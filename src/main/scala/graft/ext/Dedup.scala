package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Shared shingling helpers. */
object Shingles {
  /** Word n-grams as space-joined strings; docs shorter than n words yield
    * a single shingle of the whole text. Pure higher-order-function Column
    * algebra — no UDF.
    *
    * The `transform(array(tokens), ts => ...)` wrapper is a LET-BINDING:
    * lambda bodies re-evaluate every captured subtree per element, so
    * referencing the raw `split(...)` inside the per-shingle lambda would
    * re-run the regex split once PER SHINGLE — O(tokens²) per doc. Binding
    * the split result to a lambda variable evaluates it once per row. */
  def wordShingles(text: Column, n: Int): Column =
    // native one-pass form (r19): the HOF formulation interpreted a
    // lambda and allocated a token slice per WINDOW. Output strings are
    // byte-identical (WordShingleStrings lowercases through the same
    // UTF8String.toLowerCase the Column lower() evaluates; ZERO tokens →
    // ZERO shingles — a blank doc must not mint the "" shingle, which
    // every blank doc at web scale would share as a straggler hot key)
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WordShingleStrings(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), n))

  /** Distinct 64-bit hashes of a doc's word shingles — the compact set
    * representation all near-dup math runs on (8-byte longs instead of
    * ~20-byte strings: smaller shuffles, cheaper set ops). Delegates to
    * the native [[wordHashGrams]] expression: consumers (MinHash
    * aggregate, Jaccard intersection joins, LSH banding) are
    * order-independent SET ops, so the value space of the hashes is free
    * to choose — and the imperative per-row loop avoids building shingle
    * strings and interpreting a lambda per window (the near-dup hot
    * path). Positional consumers (winnowing) must keep hashing
    * [[wordShingles]] directly. */
  def shingleHashSet(text: Column, n: Int): Column =
    wordHashGrams(text, n)

  /** Distinct combined-word-hash n-grams as a native imperative
    * expression ([[graft.functions.GramMixHashes]]): one per-row loop —
    * no n-word shingle strings, no interpreted per-window lambdas (the
    * HOF formulation spent more time in lambda interpretation than the
    * entire downstream join; measured ~20× on 2M-doc 13-gram
    * decontamination). Docs with ≤ n tokens yield one whole-text gram
    * that equals the matching n-window of a longer doc. */
  def wordHashGrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.GramMixHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), n))

  /** Position-aligned gram hashes: element i = hash of the gram starting
    * at token i (0-based; duplicates kept) — the form exact-substring
    * dedup needs to map a gram back to its token span. */
  def gramPosHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.GramPosHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), n))

  /** Exact Jaccard over two array columns (treated as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val union = size(array_union(a, b)).cast(DoubleType)
    when(union > 0, inter / union).otherwise(lit(0.0))
  }
}

/** Deduplication operators for LLM-scale corpora (north-star; SURVEY §2.11):
  * exact hash dedup, MinHash+LSH near-dup, SimHash near-dup, and exact
  * n-gram Jaccard verification.
  *
  * Scale design: every method is shuffle-bounded by (band/bucket key) —
  * never an all-pairs cross join. Candidate generation is a self-join on
  * LSH bucket keys, so the quadratic blow-up is confined to within-bucket
  * groups (tunable via bands/rows). This is the standard web-scale dedup
  * shape (the C4/GPT-3-style dedup pipelines from public papers).
  *
  * Performance: the k seeded MinHash functions are derived from ONE
  * xxhash64 per shingle via a splitmix64-style integer mix — plain
  * arithmetic that stays in whole-stage codegen — and reduced with
  * `min` aggregates after an explode (map-side partial aggregation), not
  * per-row lambda re-hashing.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum id (deterministic
    * survivor). One shuffle on the hash. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-source duplicate-overlap matrix: for every pair of sources that
    * share at least one exact content hash, the count of shared distinct
    * hashes plus each side's distinct-hash total and the containment ratio
    * `n_shared / min(n_a, n_b)` — the curation report that tells you how
    * much of CommonCrawl is already inside C4 before you pay to dedup the
    * union.
    *
    * Output: (source_a, source_b, n_shared, n_a, n_b, overlap) with
    * source_a < source_b; fully disjoint pairs are absent.
    *
    * Scale design: one distinct shuffle on (hash, source) — within-source
    * copies collapse BEFORE the pair stage — then a self-join keyed on the
    * hash whose per-group fan-out is bounded by the source count (dozens),
    * never by corpus size; per-source totals are a tiny frame re-attached
    * by broadcast. No all-pairs stage anywhere. */
  def sourceOverlap(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    // null text hashes to a null that can never PAIR (null ≠ null in the
    // join) yet would count in each side's total — a source fully
    // contained in another but carrying one null-text row would report
    // overlap < 1.0; null docs carry no content to overlap, drop them
    val h = docs.select(md5(col(textCol)).as("__h"),
      col(sourceCol).as("__src"))
      .filter(col("__h").isNotNull).distinct()
    val totals = h.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val a = h.select(col("__h"), col("__src").as("source_a"))
    val b = h.select(col("__h"), col("__src").as("source_b"))
    a.join(b, Seq("__h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col("__src").as("source_a"),
        col("__n").as("n_a"))), Seq("source_a"))
      .join(broadcast(totals.select(col("__src").as("source_b"),
        col("__n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared").cast(DoubleType) /
          least(col("n_a"), col("n_b")).cast(DoubleType), 6).as("overlap"))
  }

  /** Per-doc shingle-hash sets (id, shset: array<long>). Tokenless rows
    * — empty, whitespace-only or NULL text — are DROPPED, not returned
    * with an empty set, so they never reach signatures or pairs.
    * `rlike("\\S")` (≥1 non-whitespace char — the exact complement of
    * the tokenizer's `\s` class, and false for NULL text)
    * is equivalent to `size(shset) > 0` but runs on the RAW text column:
    * filtering on the computed shset instead would push the predicate
    * below the projection and evaluate the whole gram-hash pipeline
    * twice per row (the guide §4.4 duplication). Dropping these rows is
    * output-neutral for every consumer — the explode-based signature
    * aggregation dropped them implicitly (no rows → no group), and the
    * verification joins are inner joins on candidate ids, which only
    * ever name docs that HAVE signatures. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    docs.filter(col(textCol).rlike("\\S"))
      .select(col(idCol).as("id"),
        Shingles.shingleHashSet(col(textCol), shingleSize).as("shset"))

  /** MinHash signature per doc, computed ROW-LOCALLY over the shingle-hash
    * set (graft.functions.MinHashArray — the one-permutation kernel folded
    * over the array in place). Bit-identical to the old explode +
    * MinHashAgg aggregation (shared MinHashOph kernel; min is
    * order-independent) at zero shuffles instead of one per call — the
    * signature is a pure per-row function, so the explode + two-stage
    * aggregate bought nothing but an exchange of the whole corpus
    * (guide §2.4). Docs with EMPTY shingle sets are dropped, exactly as
    * `explode` dropped them (no rows → no group → no signature).
    * Returns (id, sig: array<long>[numHashes]). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32): DataFrame =
    sigsFromSets(shingleSets(docs, idCol, textCol, shingleSize), numHashes)

  private def sigsFromSets(sets: DataFrame, numHashes: Int): DataFrame =
    sets.select(col("id"),
      graft.functions.MinHashArray.minhash(col("shset"), numHashes)
        .as("sig"))

  /** MinHash + LSH banding near-dup candidates, verified with exact
    * Jaccard over shingle-hash sets. `numHashes = bands * rowsPerBand`.
    *
    * Output contract: a near-duplicate GRAPH (a < b, exact Jaccard ≥
    * `minJaccard`) sufficient to recover duplicate clusters via connected
    * components — members of an identical-signature cluster link to their
    * representative (linear, not all-pairs), and cross-cluster near pairs
    * link representatives. It is deliberately NOT the exhaustive pair
    * list: materializing every member×member pair is exactly the
    * quadratic blow-up the clustering step exists to avoid.
    *
    * Eager: the (small) verified pair set is materialized into a
    * [[graft.util.Caches.snapshot]] before returning so intermediate
    * caches can be released — repeated calls in a long-lived session
    * leave no CacheManager entries, and the result's own blocks are
    * GC-released once the caller drops the frame.
    *
    * Shuffles: signature agg (by id), band explode + self-join (by band
    * hash), two hash joins to re-attach shingle sets. No global cross
    * join anywhere. */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    import graft.util.Stages.{time => stageT}
    val numHashes = bands * rowsPerBand
    // ONE narrow cached projection carries the shingle sets, the
    // row-local MinHash signatures AND the 128-bit signature keys
    // (r19: MinHashArray removed the explode+aggregate shuffle, which
    // also collapses the former sets/withSigKey cache pair into one
    // frame and one fill action). It feeds the cluster aggregate, the
    // member join and (twice) the exact verification join. Tokenless
    // docs are dropped inside shingleSets, exactly as the exploded
    // aggregation dropped them; such docs never joined a candidate pair.
    //
    // Signature grouping/joining rides a 128-bit hash of the signature
    // (two independent xxhash64 streams), not the array itself: the
    // 32-long array key is ~16× the bytes and element-wise to compare
    // on the hottest dedup shuffle, while a 128-bit collision needs
    // ~2^64 DISTINCT signatures before the birthday bound bites (at
    // 10^9 distinct sigs the any-collision probability is ~10^-21). A
    // single 64-bit key would NOT be safe here (birthday-collides at
    // ~10^9 with real probability, silently merging unrelated groups).
    val keyed = shingleSets(docs, idCol, textCol, shingleSize)
      .select(col("id"), col("shset"),
        graft.functions.MinHashArray.minhash(col("shset"), numHashes)
          .as("sig"))
      .select(col("id"), col("shset"), col("sig"),
        xxhash64(col("sig")).as("__sk1"),
        xxhash64(col("sig"), lit(1L)).as("__sk2"))
      .persist()
    // force the cache ONCE before fan-out: the final action would
    // otherwise launch its branch stages concurrently and they'd race to
    // fill the cache, recomputing the shingle pipeline per branch
    stageT("lsh", "sets+signatures") { keyed.count() }
    // min_by carries the rep's own sig array out of the SAME aggregate
    // (the sigReps shape): recovering it with a left_semi join back
    // against keyed paid one extra shuffle of the full keyed
    // signature set on the hottest dedup path
    val clusters = keyed.groupBy(col("__sk1"), col("__sk2"))
      .agg(min(col("id")).as("rep"),
        min_by(col("sig"), col("id")).as("__repsig"))
    val dupCand = keyed
      .join(clusters.select("__sk1", "__sk2", "rep"), Seq("__sk1", "__sk2"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"))

    // band-block only distinct signatures, skipping non-discriminating
    // (over-full) buckets — their members remain reachable via other bands
    val reps = clusters.select(col("rep").as("id"), col("__repsig").as("sig"))
    val banded = bandify(reps, bands, rowsPerBand).persist()
    stageT("lsh", "banding") { banded.count() }
    val bounded = boundBuckets(banded, maxBucketSize)
    val bandCand = bounded
      .select(col("band"), col("band_hash"), col("id").as("a"))
      .join(bounded.select(col("band"), col("band_hash"), col("id").as("b")),
        Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b")

    // eager snapshot: materialize the (small) verified pair set, then
    // release the intermediate caches — repeated calls in a long-lived
    // session must not accumulate cached blocks (util.Caches contract).
    // Only the band side needs the pair dedup: a band pair can repeat
    // across bands, while dupCand pairs are unique by construction (one
    // signature group per id) and DISJOINT from band pairs (a dupCand
    // `b` is a non-rep member; band pairs join reps only) — so dupCand
    // rows skip the dropDuplicates exchange entirely (guide §2.4).
    val result = stageT("lsh", "candidates+verify") {
      graft.util.Caches.snapshot(
        dupCand.unionByName(bandCand.dropDuplicates("a", "b"))
          .join(keyed.select(col("id").as("a"), col("shset").as("sh_a")),
            Seq("a"))
          .join(keyed.select(col("id").as("b"), col("shset").as("sh_b")),
            Seq("b"))
          .withColumn("jaccard", Shingles.jaccard(col("sh_a"), col("sh_b")))
          .filter(col("jaccard") >= minJaccard)
          .select(col("a"), col("b"), col("jaccard"))) }
    keyed.unpersist(); banded.unpersist()
    result
  }

  /** Cross-engine-REPRODUCIBLE MinHash+LSH near-dup pairs: the same
    * cluster-then-band pipeline as [[minHashLsh]], but every hash in it —
    * shingle identity, the k MinHash functions, the band keys — is
    * Column algebra a reference SQL engine can reproduce exactly: ONE
    * md5 per shingle (h = first 60 bits, reduced mod p = 2^31−1), then
    * h_i = ((2i+3)·h + i) mod p — multiply-mod-prime permutations whose
    * products stay under 2^38, so they compute identically in engines
    * that ERROR on 64-bit overflow instead of wrapping (the reason a
    * splitmix/xxhash mix can't be the portable family). Verification
    * emits the INTEGER sufficient statistics (n_inter, n_union of the
    * distinct-shingle sets) with the threshold as an integer predicate
    * (2·n_inter ≥ n_union ⟺ J ≥ 0.5) — no float ever crosses the
    * comparison boundary. This is the variant external hash gates check
    * ([[minHashLsh]]'s xxhash64/OPH-aggregate internals are
    * engine-specific, so its candidate set can't be replayed elsewhere);
    * production pipelines keep [[minHashLsh]].
    *
    * Same scale shape as [[minHashLsh]]: identical-signature clustering
    * first (linear rep→member links), banding over reps only, shuffles
    * keyed on signature/band/id — no all-pairs stage. */
  def minHashLshPortable(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val numHashes = bands * rowsPerBand
    val base = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("id"),
        array_distinct(Shingles.wordShingles(col(textCol), shingleSize))
          .as("shset"))
      .persist()
    base.count() // fill once before the fan-out (minHashLsh discipline)
    val p = 2147483647L // 2^31 − 1; (2k+3)·h + k < 2^38 — overflow-free
    val minCols = (0 until numHashes).map { i =>
      min((lit(2L * i + 3) * col("__hb") + lit(i.toLong)) % p)
        .as(s"__m$i")
    }
    val sigs = base.select(col("id"), explode(col("shset")).as("sh"))
      .select(col("id"),
        (conv(substring(md5(col("sh")), 1, 15), 16, 10).cast(LongType)
          % p).as("__hb"))
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
    // signature as a canonical string — the portable stand-in for the
    // 128-bit xxhash64 key (cluster and join keys must be reproducible
    // too; at gate scale the byte weight is irrelevant)
    val withKey = sigs.select(col("id"), col("sig"),
      concat_ws(",", transform(col("sig"), _.cast(StringType)))
        .as("__sigstr")).persist()
    withKey.count()
    // min_by carries the rep's own sig array out of the SAME aggregate
    // (the minHashLsh cluster shape): all rows of a __sigstr group share
    // one sig array (the string is the canonical rendering), so the old
    // left_semi join back against withKey re-shuffled the whole keyed
    // signature set only to recover a value the aggregate already held
    // (r18 opt — one corpus-keyed shuffle removed from the gate path)
    val clusters = withKey.groupBy(col("__sigstr"))
      .agg(min(col("id")).as("rep"),
        min_by(col("sig"), col("id")).as("__repsig"))
    val dup = withKey
      .join(clusters.select(col("__sigstr"), col("rep")), Seq("__sigstr"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"))
    val reps = clusters.select(col("rep").as("id"),
      col("__repsig").as("sig"))
    val banded = reps.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws(",", transform(
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          _.cast(StringType)))))
        .as(Seq("band", "bkey")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val result = graft.util.Caches.snapshot(
      dup.unionByName(cand).dropDuplicates("a", "b")
        .join(base.select(col("id").as("a"), col("shset").as("sh_a")),
          Seq("a"))
        .join(base.select(col("id").as("b"), col("shset").as("sh_b")),
          Seq("b"))
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
        .withColumn("n_union",
          (size(col("sh_a")) + size(col("sh_b"))).cast(LongType)
            - col("n_inter"))
        .filter(col("n_inter") * 2 >= col("n_union"))
        .select(col("a"), col("b"), col("n_inter"), col("n_union")))
    base.unpersist(); withKey.unpersist()
    result
  }

  /** 64-bit SimHash per doc from token hashes: bit j of the signature is
    * set iff more tokens have bit j set than clear (count-weighted).
    * Computed ROW-LOCALLY (graft.functions.SimHashArray folds the
    * per-token hash array in place) — bit-identical to the old explode +
    * SimHashAgg aggregation at ZERO shuffles instead of one corpus-keyed
    * exchange per call (guide §2.4; the r19 MinHashArray twin). The
    * `rlike("\\S")` filter (≥1 token; false for NULL text) reproduces
    * explode's implicit drop of tokenless docs — without it an empty doc
    * would emit signature 0L and spuriously cluster with any genuine
    * doc whose bit-majorities all tie low. */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
      hash: Column => Column = xxhash64(_)): DataFrame =
    docs.filter(col(textCol).rlike("\\S"))
      .select(col(idCol),
        transform(
          regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0)),
          t => hash(t)).as("__hs"))
      .select(col(idCol),
        graft.functions.SimHashArray.simhash(col("__hs")).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming`, candidates via 4×16-bit
    * band blocking (any pair within Hamming distance 3 shares at least one
    * exact 16-bit band — pigeonhole), verified with bit_count(xor).
    *
    * Output contract matches [[minHashLsh]]: a near-dup graph (cluster
    * members → representative at Hamming 0, near pairs between
    * representatives), not the exhaustive member×member pair list.
    *
    * Scale shape (found by ScaleSmoke at 100k docs): naive banding is
    * quadratic in identical/near-identical signature mass — a corpus with
    * heavy duplication explodes the band self-join. So:
    *   1. identical signatures are clustered FIRST; each cluster emits
    *      linear (representative → member) pairs at Hamming 0, and only
    *      the representative enters banding;
    *   2. band buckets larger than `maxBucketSize` distinct signatures are
    *      dropped from candidate generation (a bucket that hot means the
    *      band carries no discriminating information; its members are
    *      still reachable through their other 3 bands).
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      hash: Column => Column = xxhash64(_)): DataFrame =
    hammingPairs64(
      simHash(docs, idCol, textCol, hash)
        .select(col(idCol).as("id"), col("simhash").as("sig")),
      maxHamming, maxBucketSize)

  /** Near-dup pairs within `maxHamming` over ANY 64-bit signature column
    * (SimHash over tokens, dHash over image pixels, …): candidates via
    * 4×16-bit band blocking (pigeonhole: Hamming ≤ 3 shares ≥ 1 exact
    * band), verified with `bit_count(xor)`. Input schema: (id, sig).
    * Output/scale contract is [[simHashPairs]]'s — identical signatures
    * cluster to a representative first, only distinct signatures enter
    * banding, and band buckets over `maxBucketSize` are dropped. */
  def hammingPairs64(sigsIn: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = sigsIn.select(col("id"), col("sig")).persist()
    sigs.count() // materialize once before the branches race for the cache

    // identical-signature clusters: rep = min id, members pair to the rep
    val clustered = sigs.groupBy(col("sig"))
      .agg(min(col("id")).as("rep"))
    val dupPairs = sigs.join(clustered, Seq("sig"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"),
        lit(0L).as("hamming"))

    // band-block only distinct signatures (one rep per signature)
    val reps = clustered.select(col("rep").as("id"), col("sig"))
    val banded = reps.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band", "band_val")))
    val bucketSizes = banded.groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("__bucket_n"))
    val bounded = banded.join(
      bucketSizes.filter(col("__bucket_n") <= maxBucketSize),
      Seq("band", "band_val"))
    val l = bounded.select(col("band"), col("band_val"),
      col("id").as("a"), col("sig").as("sig_a"))
    val r = bounded.select(col("band"), col("band_val"),
      col("id").as("b"), col("sig").as("sig_b"))
    // hamming is a cheap bit_count — filter BEFORE the dedup shuffle so
    // only surviving pairs (not every multi-band candidate) get shuffled
    val nearPairs = l.join(r, Seq("band", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")

    // eager snapshot, then release the signature cache (Caches contract)
    val result = graft.util.Caches.snapshot(dupPairs.unionByName(nearPairs))
    sigs.unpersist()
    result
  }

  /** Connected components over an undirected pair graph (a, b) via
    * iterative min-label propagation: every vertex takes the minimum label
    * among itself and its neighbours until fixpoint (or `maxIterations`).
    * Near-dup clusters have tiny diameters (members link to a
    * representative), so convergence is fast; each iteration is one join +
    * one aggregate, both keyed shuffles.
    *
    * Small graphs skip the distributed loop: a near-dup pair graph is a
    * sliver of its corpus, and the distributed path costs ~2 jobs × rounds
    * no matter how tiny the data — so graphs with ≤ `maxDriverEdges` edges
    * and long ids are solved by driver-side union-find (identical output:
    * component = min id). The gate is a single `limit(n+1)` collect — one
    * evaluation of the pairs plan that IS the edge list when it fits, so
    * nothing runs twice; only an over-threshold graph pays a discarded
    * probe before the distributed pass (which persists its own edges).
    * Default 200k edges ≈ tens of MB of boxed driver rows — safe on a
    * default-sized driver heap; raise it on big drivers. Same
    * size-gated-fallback idea as Spark's broadcast threshold; pass
    * maxDriverEdges = 0 to force the distributed path.
    *
    * Edges with a null endpoint are dropped up front (both paths): a null
    * id has no identity to cluster by, and the driver path would NPE on
    * it while the distributed path emitted a meaningless null label.
    * Returns (id, component) where component = min id in the cluster. */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 10,
      maxDriverEdges: Int = 200000): DataFrame = {
    val cleanPairs = pairs.filter(col("a").isNotNull && col("b").isNotNull)
    val longIds = pairs.schema("a").dataType == LongType &&
      pairs.schema("b").dataType == LongType
    if (longIds && maxDriverEdges > 0) {
      val probe = cleanPairs.select(col("a"), col("b"))
        .limit(maxDriverEdges + 1).collect()
      if (probe.length <= maxDriverEdges)
        return unionFindLocal(pairs.sparkSession, probe)
    }
    val edges = cleanPairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(cleanPairs.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    // localCheckpoint per iteration: each round's plan references the
    // previous round, so WITHOUT lineage truncation the logical plan
    // doubles per iteration — exponential plan size long before the data
    // is large
    var labels = graft.util.Iterate.checkpointCut(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // pointer jumping: augment the graph edges with last round's
      // id → component pointers, so each vertex also sees its LABEL's
      // label. Label reach doubles per round — convergence in
      // O(log diameter) rounds instead of O(diameter), which is what
      // keeps long chains inside maxIterations (measured: a 12-deep
      // chain graph converges in 5 rounds, not 11).
      val augmented = edges.unionByName(
        labels.filter(col("id") =!= col("component"))
          .select(col("id").as("src"), col("component").as("dst")))
      val neighborMin = augmented
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nmin"))
      // convergence detection rides the checkpoint action as an observed
      // metric (labels only ever decrease, so changed = new < old) — ONE
      // Spark job per round instead of checkpoint + a label-diff join
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$i")
      val next = labels.withColumnRenamed("component", "old")
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("component"),
          col("old"))
        .observe(obs,
          sum(when(col("component") < col("old"), 1L).otherwise(0L))
            .as("changed"))
        .select(col("id"), col("component"))
        .localCheckpoint(true)
      // stats reset AFTER the observed checkpoint action (the eager
      // checkpoint posts the convergence metric; the rewrap is lazy) —
      // without it the self-referencing join squares sizeInBytes per
      // round (see Iterate.checkpointCut)
      labels = org.apache.spark.sql.graftbridge.Bridge.statsFreeCopy(next)
      // getOrEmpty, not get: the eager checkpoint above has already run the
      // observed plan, but if that action ever stops posting SQL-execution
      // -end events (e.g. a Spark upgrade moving checkpoint to an RDD-level
      // job) a blocking get() would hang forever. Missing metrics → assume
      // not converged and spend one more bounded iteration instead.
      converged = org.apache.spark.sql.graftbridge.Bridge.observedOrEmpty(obs)
        .get("changed")
        .exists(v => v == null || v == 0L) // null = zero-row graph = fixpoint
      i += 1
    }
    edges.unpersist()
    // a truncated run returns labels that SPLIT true components —
    // downstream leak-safe splitting would then scatter one near-dup
    // cluster across train/eval with no signal. Pointer jumping halves
    // remaining depth per round, so 10 rounds cover diameter ~2^10;
    // a graph that still moves needs more rounds, loudly.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations " +
          "pointer-jumping rounds — the pair graph's diameter exceeds " +
          s"~2^$maxIterations; raise maxIterations")
    labels
  }

  /** Driver-side union-find for small pair graphs (edges already
    * collected by the caller's gate probe): zero shuffles. Union-by-min
    * keeps every set's root at its minimum id, so the output matches the
    * distributed propagation bit for bit. */
  private def unionFindLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var c = x
      while (parent.getOrElse(c, c) != root) { // path compression
        val next = parent(c); parent(c) = root; c = next
      }
      root
    }
    edges.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted
      .map(id => (id, find(id)))
      .toDF("id", "component")
  }

  /** End-to-end near-duplicate corpus dedup: mine the near-dup graph
    * (MinHash+LSH, exact-Jaccard verified), cluster it, and keep one
    * survivor (min id) per cluster plus every unclustered doc. The
    * standard C4/GPT-style corpus-cleaning entry point.
    *
    * `docs` must be a deterministic plan (file scans, filters — not a bare
    * `limit` over shuffled input): it is evaluated once for graph mining
    * and once for the final anti-join, like any Spark frame used twice. */
  def dedupNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      minJaccard: Double = 0.8): DataFrame = {
    val pairs = minHashLsh(docs, idCol, textCol, shingleSize, bands,
      rowsPerBand, minJaccard)
    // pairs is a Caches.snapshot — no CacheManager entry; its blocks are
    // GC-released once this frame goes out of scope after the clustering
    val comps = graft.util.Stages.time("lsh", "connected-components") {
      connectedComponents(pairs) }
    val losers = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental near-dup matches: NEW docs against an existing KEPT
    * corpus and against each other — the daily-increment shape. A crawl
    * delta is a sliver of the accumulated corpus, so candidate generation
    * must scale with |new|: the kept side is banded and bucket-counted
    * but NEVER self-joined — kept×kept pairs (the quadratic mass a full
    * re-dedup would pay every day) are simply never generated.
    *
    * Output: exact-verified matches (new_id, matched_id, jaccard,
    * matched_kept) where jaccard ≥ `minJaccard`; new×new matches appear
    * once with new_id > matched_id (smaller-id doc is the "original").
    * Requires globally unique ids across both frames.
    *
    * At true scale the kept side's band table is a precomputed dedup
    * INDEX maintained incrementally (append each day's survivors);
    * banding it per call — as here — is still one narrow pass, never a
    * join. */
  /** Precomputed kept-side near-dup index: per-doc shingle-hash sets and
    * the bounded banded-signature table (buckets hotter than
    * `maxBucketSize` are already dropped — they carry no discriminating
    * information). Built in one narrow pass over the kept corpus; at
    * scale this lives in the lakehouse and is APPENDED each increment
    * (survivors' rows), so no call ever re-scans the accumulated corpus. */
  final case class NearDupIndex(sets: DataFrame, banded: DataFrame,
      bands: Int, rowsPerBand: Int, shingleSize: Int)

  /** (id, sig) → one row per (band, 64-bit band hash). Shared by the
    * batch LSH and the incremental index — the two paths must band
    * identically or an index is not interchangeable with a re-dedup. */
  private def bandify(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
          lit(rowsPerBand)), b)))
        .as(Seq("band", "band_hash")))

  /** Drop band buckets hotter than `cap`: they carry no discriminating
    * information and their members remain reachable via other bands. */
  private def boundBuckets(banded: DataFrame, cap: Int): DataFrame =
    banded.join(
      banded.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") <= cap)
        .select(col("band"), col("band_hash")),
      Seq("band", "band_hash"))

  /** One representative (min id) per distinct signature — the
    * duplicate-heavy-corpus guard: banding members individually would
    * push every bucket of heavily-duplicated content over the cap and
    * silently lose it from candidate generation. Grouped on the compact
    * 128-bit signature hash (see minHashLsh's cluster step for the
    * collision/shuffle-weight arithmetic); the surviving row's own sig
    * array rides along via min_by. */
  private def sigReps(sigs: DataFrame): DataFrame =
    sigs.groupBy(xxhash64(col("sig")).as("__sk1"),
        xxhash64(col("sig"), lit(1L)).as("__sk2"))
      .agg(min(col("id")).as("id"), min_by(col("sig"), col("id")).as("sig"))
      .select(col("id"), col("sig"))

  def buildNearDupIndex(kept: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000): NearDupIndex =
    buildIndexFromSets(shingleSets(kept, idCol, textCol, shingleSize),
      shingleSize, bands, rowsPerBand, maxBucketSize)

  /** [[buildNearDupIndex]] over already-derived (and possibly cached)
    * shingle sets — lets a caller that persists the sets anyway (the
    * throwaway-index overload below) pay ONE kept pass instead of two
    * (the banded snapshot then reads the cache instead of re-running
    * the whole shingle pipeline). */
  private def buildIndexFromSets(sets: DataFrame, shingleSize: Int,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int): NearDupIndex = {
    // band one rep per distinct signature (duplicate-heavy guard, same as
    // minHashLsh): a new copy of kept boilerplate matches the rep — and
    // rep verification (exact Jaccard vs the rep's shingle set) decides
    val reps = sigReps(sigsFromSets(sets, bands * rowsPerBand))
    // snapshot before boundBuckets: it references the banded frame twice
    // (scan side + bucket-count side), and unsnapshotted the whole kept
    // shingle/MinHash pipeline would run twice when the caller
    // materializes index.banded (minHashLsh persists for the same reason)
    val banded = graft.util.Caches.snapshot(
      bandify(reps, bands, rowsPerBand))
    val bounded = boundBuckets(banded, maxBucketSize)
    NearDupIndex(sets, bounded, bands, rowsPerBand, shingleSize)
  }

  /** Match a delta against a prebuilt [[NearDupIndex]] — the per-call
    * cost scales with the DELTA (new-side shingles/signatures plus joins
    * that stream the index), never re-scanning the kept corpus. Callers
    * should persist (or store) the index frames across increments.
    *
    * Recall caveat: candidates are generated at the REPRESENTATIVE level
    * (one rep per distinct MinHash signature, both in the index and in
    * the delta — the duplicate-heavy-corpus guard). Two docs that share a
    * signature can still have different shingle sets, so a member-vs-
    * member pair whose rep-vs-rep pair fails exact-Jaccard verification
    * is missed. Identical-signature groups are in practice near-identical
    * content, so the loss is marginal — and the alternative (banding
    * every member) silently drops ALL copies of any >maxBucketSize
    * boilerplate flood, a far worse failure mode. */
  def incrementalNearDupMatches(newDocs: DataFrame, index: NearDupIndex,
      idCol: String, textCol: String, minJaccard: Double,
      maxBucketSize: Int): DataFrame = {
    import graft.util.Stages.{time => stageT}
    // ONE narrow cached projection carries the delta's shingle sets,
    // row-local MinHash signatures and 128-bit signature keys (r19: the
    // explode+aggregate signature shuffle is gone — MinHashArray — and
    // with it the separate newSets/newSigs cache pair and one fill
    // action per call). Feeds reps, memberOf and the verify attach.
    val newKeyed = shingleSets(newDocs, idCol, textCol, index.shingleSize)
      .select(col("id"), col("shset"),
        graft.functions.MinHashArray.minhash(col("shset"),
          index.bands * index.rowsPerBand).as("sig"))
      .select(col("id"), col("shset"), col("sig"),
        xxhash64(col("sig")).as("__sk1"),
        xxhash64(col("sig"), lit(1L)).as("__sk2"))
      .persist()
    stageT("incdup", "new-sets+sigs") { newKeyed.count() }
    // duplicate-heavy DELTA guard (mirrors the batch path's sigReps): band
    // ONE representative per distinct signature. Banding members
    // individually means a delta carrying >maxBucketSize copies of the
    // same boilerplate overflows every one of its band buckets, the cap
    // drops them all, and every copy silently survives. Non-rep members
    // inherit their rep's candidates (plus a member→rep candidate), all
    // exact-Jaccard verified against each member's own shingle set.
    // Signature grouping/joining is on the compact 128-bit hash key (see
    // minHashLsh's cluster step), with the rep's own sig array riding
    // along via min_by for banding.
    val reps = newKeyed.groupBy(col("__sk1"), col("__sk2"))
      .agg(min(col("id")).as("rep_id"),
        min_by(col("sig"), col("id")).as("sig"))
      .persist()
    stageT("incdup", "new-reps") { reps.count() }
    // NOT persisted (r19): both consumers (candidate expansion and the
    // member→rep intra pairs) join two already-cached inputs — letting
    // the tiny join evaluate twice is cheaper than a fill action per call
    val memberOf = newKeyed
      .join(reps.select(col("__sk1"), col("__sk2"), col("rep_id")),
        Seq("__sk1", "__sk2"))
      .select(col("id"), col("rep_id"))
    val newBand = bandify(reps.select(col("rep_id").as("id"), col("sig")),
      index.bands, index.rowsPerBand).persist()
    stageT("incdup", "new-banding") { newBand.count() }
    // cap hot NEW buckets too (a hot bucket × every kept member is the
    // incremental analogue of the self-join blow-up); reps-only banding
    // means identical-content floods no longer trip this cap. SAME
    // helper as the batch path — a drifted copy of the cap rule would
    // make the incremental index stop being interchangeable with a
    // re-dedup (the invariant the shared helpers protect)
    val nb = boundBuckets(newBand, maxBucketSize)
    // the DELTA side broadcasts (it's small by contract): the index
    // streams map-side through the join — no corpus-sized shuffle per
    // increment. The kept side RE-APPLIES the bucket cap on the touched
    // buckets: an accumulated store (streaming ingest appends per-batch
    // deltas, each individually under the cap) can grow a boilerplate
    // bucket far past maxBucketSize, and pairing every delta rep with
    // that bucket's whole population is exactly the hot-bucket blow-up
    // the cap exists to stop. Touched membership is delta-confined, so
    // the re-cap is one aggregate over the pruned join output — never an
    // index-wide shuffle; over-cap buckets drop entirely (their members
    // stay reachable via other bands — the batch boundBuckets rule).
    val keptTouched = index.banded
      .select(col("band"), col("band_hash"), col("id").as("matched_id"))
      .join(broadcast(nb.select(col("band"), col("band_hash")).distinct()),
        Seq("band", "band_hash"))
      .persist()
    // force the cache ONCE before the fan-out (okBuckets + candKept both
    // scan it) — the same discipline as every other persist in this
    // function; racing an unfilled cache runs the index join twice
    stageT("incdup", "kept-touched") { keptTouched.count() }
    val okBuckets = keptTouched.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__kn")).filter(col("__kn") <= maxBucketSize)
      .select(col("band"), col("band_hash"))
    val candKept = keptTouched
      .join(broadcast(okBuckets), Seq("band", "band_hash"))
      .join(broadcast(nb.select(col("band"), col("band_hash"),
        col("id").as("rep_id"))), Seq("band", "band_hash"))
      .select(col("rep_id"), col("matched_id"))
      .withColumn("matched_kept", lit(true))
    val candNew = nb.select(col("band"), col("band_hash"),
        col("id").as("rep_id"))
      .join(nb.select(col("band"), col("band_hash"),
        col("id").as("matched_id")), Seq("band", "band_hash"))
      .filter(col("rep_id") > col("matched_id"))
      .select(col("rep_id"), col("matched_id"))
      .withColumn("matched_kept", lit(false))
    // expand rep-level candidates to every member of the rep's signature
    // group (a member is ≥ its rep, so the new-vs-new smaller-id ordering
    // is preserved), and pair each non-rep member with its own rep
    val expanded = memberOf.join(candKept.unionByName(candNew), Seq("rep_id"))
      .select(col("id").as("new_id"), col("matched_id"), col("matched_kept"))
    val intraGroup = memberOf.filter(col("id") =!= col("rep_id"))
      .select(col("id").as("new_id"), col("rep_id").as("matched_id"),
        lit(false).as("matched_kept"))
    val allSets = index.sets
      .unionByName(newKeyed.select(col("id"), col("shset")))
    // broadcast ID-ONLY candidate pairs into the kept-set attach (the
    // kept shingle sets stream map-side); the new side's shingle sets
    // attach AFTER, as their own delta-sized broadcast. Attaching sh_n
    // BEFORE the pair broadcast would ship |pairs| × shingle-array —
    // pairs can be ~100× the delta, exactly the blow-up to avoid.
    val candIds = expanded.unionByName(intraGroup)
      .dropDuplicates("new_id", "matched_id")
    // eager snapshot, then release the delta-side caches
    val result = stageT("incdup", "verify") {
      graft.util.Caches.snapshot(allSets
        .select(col("id").as("matched_id"), col("shset").as("sh_m"))
        .join(broadcast(candIds), Seq("matched_id"))
        .join(broadcast(newKeyed.select(col("id").as("new_id"),
          col("shset").as("sh_n"))), Seq("new_id"))
        .withColumn("jaccard", Shingles.jaccard(col("sh_n"), col("sh_m")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("new_id"), col("matched_id"), col("jaccard"),
          col("matched_kept"))) }
    newKeyed.unpersist(); newBand.unpersist(); reps.unpersist()
    keptTouched.unpersist()
    result
  }

  /** Convenience form building a throwaway index from `kept` (persisted
    * for the duration of the call — the index frames feed both candidate
    * generation and exact verification). Repeated increments should build
    * the index once via [[buildNearDupIndex]] instead. */
  def incrementalNearDupMatches(newDocs: DataFrame, kept: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, minJaccard: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val idx = graft.util.Stages.time("incdup", "index-build") {
      // persist + fill the kept shingle sets BEFORE the banded snapshot
      // runs: built the other way around, the snapshot evaluated the
      // whole kept shingle pipeline once for the banded table and the
      // sets fill paid a SECOND full kept pass right after (r19 — one
      // kept scan per throwaway index, not two)
      val sets = shingleSets(kept, idCol, textCol, shingleSize).persist()
      sets.count()
      val idx0 = buildIndexFromSets(sets, shingleSize, bands,
        rowsPerBand, maxBucketSize)
      val i = idx0.copy(banded = idx0.banded.persist())
      i.banded.count()
      i
    }
    val result = incrementalNearDupMatches(newDocs, idx, idCol, textCol,
      minJaccard, maxBucketSize)
    idx.sets.unpersist(); idx.banded.unpersist()
    result
  }

  /** Incremental dedup survivors: the new docs with NO ≥`minJaccard`
    * match in the kept corpus and none to a smaller-id new doc (pairwise
    * policy: a doc is judged against originals, not against whether its
    * match itself survived). Anti join against the (small) matched set. */
  def incrementalNearDup(newDocs: DataFrame, kept: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, minJaccard: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val matched = incrementalNearDupMatches(newDocs, kept, idCol, textCol,
      shingleSize, bands, rowsPerBand, minJaccard, maxBucketSize)
    // pin only the (small) matched-id set — the full match snapshot's
    // blocks are GC-released once `matched` goes out of scope
    val ids = graft.util.Caches.snapshot(
      matched.select(col("new_id").as(idCol)).distinct())
    newDocs.join(ids, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard for pairs within a blocking key (e.g. source or
    * length bucket) that share ≥1 shingle (disjoint pairs have Jaccard 0
    * and are never materialised). Intersection sizes come from a self-join
    * on (block, shingle-hash) + count — a hash join over exploded rows, so
    * cost scales with actual overlap, not with |block|² array comparisons.
    * Union sizes via |a|+|b|−|a∩b|. The brute verification tier; candidates
    * should come from LSH at scale. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(xxhash64(blockCols.map(col): _*).as("blk"),
      col(idCol).as("id"),
      Shingles.shingleHashSet(col(textCol), shingleSize).as("sh"))
    // materialize the exploded gram-hash rows ONCE: `ex` feeds the size
    // aggregate AND both sides of the pair self-join, and with no
    // shuffle boundary below it exchange reuse cannot deduplicate the
    // tokenize/gram-hash pipeline — unpersisted, the corpus scan ran
    // three times (the winnowPairs persist rationale). Deliberate scale
    // trade: at bench scale (sf0.1, ~0.4 s of 1.3 s) the persist costs
    // more than one rescan saves; at corpus scale the tokenize+gram
    // rescan it removes dominates by orders of magnitude — eat the
    // small-input overhead rather than fork the plan on a size guess.
    val ex = sh.select(col("blk"), col("id"), explode(col("sh")).as("h"))
      .persist()
    ex.count()
    // set sizes from the exploded rows (shset holds distinct hashes, so
    // the per-id count IS the set size): the gram-hash subtree then
    // feeds only `ex`, not two extra `sizes` evaluations; empty-set docs
    // can't appear in `inter` either way
    val sizes = ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = ex.select(col("blk"), col("h"), col("id").as("a"))
      .join(ex.select(col("blk"), col("h"), col("id").as("b")), Seq("blk", "h"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_inter"))
    val result = graft.util.Caches.snapshot(inter
      .join(sizes.select(col("id").as("a"), col("n").as("n_a")), Seq("a"))
      .join(sizes.select(col("id").as("b"), col("n").as("n_b")), Seq("b"))
      .select(col("a"), col("b"),
        (col("n_inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType))
          .as("jaccard")))
    ex.unpersist()
    result
  }

  /** Winnowing-fingerprint near-dup pairs (the MOSS matcher — Schleimer
    * et al., SIGMOD'03 §4, over [[TextStats.winnowingFingerprint]]'s
    * selected k-gram hashes): pairs of docs sharing ≥ `minShared`
    * fingerprints, after dropping fingerprints present in more than
    * `maxDf` docs. The df screen is the standard MOSS move — an
    * over-common fingerprint (boilerplate chrome, license headers) pairs
    * everyone with everyone and carries no identifying signal; the
    * winnowing guarantee (any shared token run of ≥ window+k−1 tokens
    * yields a shared fingerprint) survives for material whose shared run
    * also selects a sub-threshold fingerprint.
    *
    * Complements the other near-dup family members: MinHash-LSH
    * ([[minHashLsh]]) estimates whole-doc SET similarity; winnowing
    * match counts are POSITIONAL — local contiguous overlap (a copied
    * paragraph inside an otherwise-unrelated doc) that set-level Jaccard
    * dilutes away.
    *
    * Output: (id_a, id_b, n_shared) with id_a < id_b,
    * n_shared ≥ `minShared`.
    *
    * Scale: winnowing selects ~2/(window+1) of grams, so the exploded
    * fingerprint frame is a fraction of corpus tokens; the df screen is
    * one keyed aggregate with map-side combine; the pair join shuffles
    * on the 8-byte fingerprint with per-key fan-out capped at `maxDf`²
    * by the screen — no all-pairs or cross join anywhere. Default hash
    * is the portable [[TextStats.md5Hash64]] so the whole path is
    * oracle-checkable; swap xxhash64 for raw throughput. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, window: Int = 4, maxDf: Int = 20,
      minShared: Int = 2, exact: Boolean = true): DataFrame = {
    // persisted: the exploded fingerprint frame feeds the df screen AND
    // both sides of the pair self-join — without the cache the whole
    // tokenize/gram-hash/window-min pipeline would re-run per branch
    // (the minHashLsh eager pattern; the pair output is small, so
    // materialize it before releasing the cache). Fingerprints come
    // from the native one-pass WinnowHashes expression; `exact = true`
    // keeps the md5-derived oracle-checkable gram values, `false` the
    // faster fold hash (value space free — only equality joins consume
    // the fingerprints).
    val fps = graft.ext.TextStats
      .winnowingFingerprintNative(docs, idCol, textCol, shingleSize,
        window, exact)
      .select(col(idCol).as("id"), explode(col("fingerprint")).as("fp"))
      .persist()
    fps.count()
    // fingerprint arrays are distinct per doc, so count(*) per fp IS the
    // document frequency
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("fp"))
    val screened = fps.join(rare, Seq("fp"), "left_semi")
    val result = graft.util.Caches.snapshot(
      screened.select(col("fp"), col("id").as("id_a"))
        .join(screened.select(col("fp"), col("id").as("id_b")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared))
    fps.unpersist(blocking = false)
    result
  }
}
