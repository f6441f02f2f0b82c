package graft.operators

import graft.Tables
import graft.functions.VectorFunctions.cosine_similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the training-data-pipeline surface (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup).
  *
  * Scale design: every operator is expressed as shuffle-bounded
  * relational algebra — no driver-side loops, no O(n²) cross joins
  * without a blocking key. The LSH variants are the 100 TB path (cost
  * ∝ candidates, not pairs); the exact-Jaccard verify step only runs
  * over LSH candidates.
  *
  * Caching note: d02/d04/d06 (and TextAnalysis t05) persist() an
  * intermediate referenced by several downstream joins. persist() is
  * MEMORY_AND_DISK, so an over-large intermediate degrades to disk
  * rather than OOM. Builders cannot unpersist their own intermediate
  * (the plan they return still references it lazily), so every
  * persist/checkpoint registers with [[graft.CacheScope]]; the
  * harness (Verify, Bench, specs) calls `CacheScope.releaseAll()`
  * after each query's terminal action, which also frees the RDD-level
  * checkpoint blocks that `spark.catalog.clearCache()` cannot evict.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  private def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Exact dedup by content hash (reference O12 generalized globally:
    * HashMap.entry.or_insert at `release.rs:185-187` deduped only
    * within a 10k batch; a groupBy on the hash is exact across the
    * dataset and scales as one shuffle on a uniformly distributed key).
    */
  def d01_dedup_exact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("content_hash"))

  /** 3-word shingles of a token array (document order; native
    * expression — the HOF transform/slice chain interprets its lambda
    * per element and is 20×+ slower). */
  private def shingles(toks: Column): Column =
    graft.functions.TextHashFunctions.word_shingles(toks, 3)

  /** MinHash signature geometry shared by [[d02_minhash_lsh]] and its
    * DuckDB oracle: 64 slots = [[D02Bands]] bands × [[D02Rows]] rows
    * (s-curve threshold ≈ 0.5 at r=4, b=16). */
  private[graft] val D02Bands = 16
  private[graft] val D02Rows = 4

  /** MinHash + LSH banding near-dup pipeline:
    *   3-word shingles → 64-slot minhash signature → 16 bands × 4
    *   rows → bucket self-join → candidate pairs → exact-Jaccard
    *   verify ≥ 0.5 (native expression, once per candidate).
    * The only shuffles are the band bucket join and the candidate
    * verify joins; candidate volume is governed by the band collision
    * probability (r=4, b=16 → s-curve threshold ≈0.5), not n² — this is
    * the scale path for document dedup.
    *
    * The slot permutations are md5-keyed via Kirsch–Mitzenmacher
    * double hashing (Kirsch & Mitzenmacher 2006, "Less Hashing, Same
    * Performance"): ONE md5 per shingle yields two independent 48-bit
    * words h₁ (hex chars 1–12) and h₂ (chars 17–28); slot i of a doc =
    * min over shingles g of gᵢ(g) = h₁(g) + i·h₂(g) — a long min over
    * a per-slot affine hash family (i ≤ 63, so gᵢ < 2⁵⁴: no overflow
    * under ANSI arithmetic on either engine). The band key folds the
    * band index over its 4 slot values with one more md5. Chosen over
    * the seeded-xxhash native expression BECAUSE md5 is the one hash
    * both engines evaluate bit-identically (the t04 discipline), which
    * puts the whole sketch under the DuckDB hash gate: signature,
    * banding, candidate set and verify all mirror exactly — and over
    * the round-13 64-independent-md5 form (min over g of
    * md5(g||'#'||i) per slot) because that form made d02 the suite's
    * 3rd most expensive entry at 64 md5s/shingle; KM derivation is
    * 1 md5 + 64 fused multiply-adds per shingle (~60× less hashing)
    * with the same family guarantees. All signature work is one
    * map-only projection (no shuffle before the band join).
    */
  def d02_minhash_lsh: Q = (s, d) => {
    import graft.functions.TextHashFunctions.array_jaccard
    // repartition BEFORE the per-row signature stage: a small-file
    // table arrives as one partition, which would serialize the whole
    // (CPU-heavy) shingle+minhash map work onto a single core — at
    // cluster scale this is the "parallelize the signature scan" knob
    val docs = graft.CacheScope.persisted(
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        // distinct shingles: slot mins are duplicate-blind, but the
        // verify stage's set sizes must agree with the oracle's
        // list_distinct sets
        .select(col("doc_id"),
          array_distinct(shingles(tokens(col("text")))).as("sh"))
    ) // referenced 3× (banding + both verify joins)
    val nSlots = D02Bands * D02Rows
    // ONE md5 per shingle → the (h1, h2) KM pair; slot mins and band
    // keys are pure long arithmetic over it (see the scaladoc). The
    // whole sketch is the codegen expression
    // [[graft.functions.Md5KmBands]] — bit-identical to the
    // transform/array_min column nest it replaces (and to the DuckDB
    // oracle CTEs), but one JIT-friendly loop instead of bands·rows
    // interpreted lambdas per shingle (HOFs are CodegenFallback; the
    // r14 profile measured the nest at ~100 s executor CPU per
    // evaluation at sf0.1 — and the a/b join sides evaluate it twice).
    // coalesce: a NULL shingle array keys like an empty one, exactly
    // the column form's behavior (its md5(concat(b, ':', '')) path).
    val banded = docs
      .select(col("doc_id"), explode(
        graft.functions.TextHashFunctions.md5_km_bands(
          coalesce(col("sh"), array().cast("array<string>")),
          D02Bands, D02Rows)).as("bh"))
    require(nSlots == 64) // the documented signature width
    val a = banded.select(col("bh"), col("doc_id").as("id_a"))
    val b = banded.select(col("bh"), col("doc_id").as("id_b"))
    val candidates = a.join(b, Seq("bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    candidates
      .join(docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.Tables.rhalfup(array_jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup: 64-bit fingerprint per doc via the one-pass
    * native expression (map-only — no token shuffle), then candidate
    * pairs that share one of the 4 16-bit chunks (pigeonhole:
    * hamming ≤ 3 ⇒ ≥1 identical chunk), verified by bit_count(xor) ≤ 3
    * and deduped AFTER the cheap hamming filter so the distinct only
    * sees surviving pairs.
    * No oracle: fingerprint depends on the hash function.
    */
  def d03_simhash: Q = (s, d) =>
    simhashPairs(Tables.documents(s, d), D03MaxCandidates)

  /** Ceiling on [[d03_simhash]]'s chunk-collision candidate volume.
    * 16-bit chunk blocking has 4·65,536 buckets, so candidate pairs
    * grow ~quadratically in corpus size once buckets saturate — the
    * one blocking scheme here whose candidate set DENSIFIES with scale
    * (d04 prefix-filters, d02 re-bands). The gate counts Σ df·(df−1)/2
    * over chunk keys (one count-only aggregate on the map-side chunk
    * stream — no candidate row materializes) and fails loudly past the
    * cap: 50M candidates ≈ a few GB of verify-join traffic, past which
    * the right fix is more/wider chunks (e.g. 8×8-bit pigeonhole for
    * hamming ≤ 7) or pre-partitioning by a signature prefix, not a
    * silently quadratic join. */
  private[graft] val D03MaxCandidates = 50000000L

  private[graft] def simhashPairs(documents: DataFrame,
      maxCandidates: Long): DataFrame = {
    import graft.functions.TextHashFunctions.simhash64
    val sigs = documents.select(col("doc_id"),
      simhash64(tokens(col("text"))).as("simhash"))
    // persisted: the collision gate's count below is an EAGER job at
    // plan-build time, and the pair join re-reads the same chunks —
    // without the persist the docs scan + simhash tokenization runs
    // twice (once for the gate, once for the join)
    val chunks = graft.CacheScope.persisted(
      sigs.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(j =>
          shiftrightunsigned(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk_idx", "chunk"))))
    val nCand = chunks.groupBy(col("chunk_idx"), col("chunk"))
      .agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2).as("n"))
      .first().getAs[Any]("n") match {
        case null => 0L
        case d: java.math.BigDecimal => d.longValueExact()
        case l: java.lang.Long => l.longValue()
        case d: java.lang.Double => d.toLong
      }
    require(nCand <= maxCandidates,
      s"d03 chunk-collision candidate volume $nCand exceeds cap " +
        s"$maxCandidates — 16-bit chunk buckets have densified at this " +
        "corpus size; widen the pigeonhole blocking before the join " +
        "goes quadratic")
    val a = chunks.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_a"), col("simhash").as("fp_a"))
    val b = chunks.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_b"), col("simhash").as("fp_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Jaccard similarity threshold for [[d04_ngram_jaccard]]. */
  private val JaccardT = 0.8

  /** Token-set Jaccard similarity, blocked on (source, lang), with
    * PREFIX FILTERING (Chaudhuri et al. SSJoin / Xiao et al. PPJoin)
    * so the inverted-index self-join never sees a hot token's full
    * posting list.
    *
    * Exactness argument (why this loses NO pairs): J(a,b) ≥ t implies
    * |a∩b| ≥ t·|a∪b| ≥ t·max(|a|,|b|), so overlap α ≥ ⌈t·|a|⌉ and
    * α ≥ ⌈t·|b|⌉. Sort every doc's tokens by one global total order
    * (df asc, tok asc — per block); by the prefix-filter lemma, two
    * sets with overlap ≥ α must share a token among each one's first
    * (n − α + 1) tokens. Keeping prefix n − ⌈t·n⌉ + 1 per doc (a
    * superset of the required prefix for every qualifying partner)
    * therefore generates every pair with J ≥ t as a candidate. The
    * exact Jaccard is then computed once per candidate from the full
    * token sets (codegen'd [[graft.functions.ArrayJaccard]]).
    *
    * Scale: df-ascending order pushes high-df (boilerplate) tokens out
    * of every prefix, so candidate volume is Σ over RARE tokens of
    * prefix-df² — the O(df²) hot-token blowup of a naive inverted
    * index cannot occur. Cost is 3 shuffles (df count, prefix rank,
    * candidate join) + one broadcast-size-bounded verify join per side.
    */
  def d04_ngram_jaccard: Q = (s, d) =>
    ngramJaccardPairs(Tables.documents(s, d))

  private[graft] def ngramJaccardPairs(documents: DataFrame): DataFrame = {
    import graft.functions.TextHashFunctions.array_jaccard
    // per-doc DISTINCT token sets are a map-side array_distinct — no
    // shuffle spent deduping the exploded token stream
    val base = graft.CacheScope.persisted(
      documents
        .select(col("doc_id"), col("source"), col("lang"),
          sort_array(array_remove(array_distinct(tokens(col("text"))), ""))
            .as("toks"))
    ) // token explode + both verify joins
    val tok = base.select(col("doc_id"), col("source"), col("lang"),
      explode(col("toks")).as("tok"))
    // document frequency per block: the prefix ordering key
    val dfc = tok.groupBy(col("source"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("df"))
    // ONE aggregation rebuilds each doc's tokens ordered by the global
    // (df, tok) order (struct sort is field-lexicographic); the prefix
    // is then a map-side slice — no window sort over the token stream
    val perDoc = tok.join(dfc, Seq("source", "lang", "tok"))
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord_toks"))
      // prefix size n − ⌈t'·n⌉ + 1 in exact integer arithmetic.
      // t' = 15999/20000 = 0.79995, NOT 0.8: the output filter keeps
      // rhalfup(J, 4) ≥ 0.8, which admits true J down to 0.79995, so the
      // prefix bound must be derived from that lower edge or pairs in
      // [0.79995, 0.8) could be dropped before the verify step ever
      // sees them. ⌈t'·n⌉ = (15999·n + 19999) div 20000; double math
      // (n * 0.8) additionally rounds wrong at e.g. n = 5.
      .withColumn("p",
        size(col("ord_toks"))
          - floor((size(col("ord_toks")) * 15999L + 19999L) / 20000L)
            .cast(IntegerType) + 1)
    val prefix = perDoc
      .select(col("source"), col("lang"), col("doc_id"),
        explode(slice(col("ord_toks"), lit(1), col("p"))).as("pt"))
      .select(col("source"), col("lang"), col("pt.tok").as("tok"), col("doc_id"))
    val pa = prefix.select(col("source"), col("lang"), col("tok"), col("doc_id").as("id_a"))
    val pb = prefix.select(col("source"), col("lang"), col("tok"), col("doc_id").as("id_b"))
    val candidates = pa.join(pb, Seq("source", "lang", "tok"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verify: full (distinct) token set per doc, one array
    // Jaccard per candidate — identical value to the inverted-index
    // n_inter / (n_a + n_b − n_inter) form, so the oracle is unchanged
    candidates
      .join(base.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
      // rhalfup, not round: jaccard is a pure integer ratio and the
      // ≥ 0.8 filter makes a half-case divergence a ROW-presence
      // difference, not just a value ulp — see Tables.rhalfup
      .withColumn("jaccard",
        graft.Tables.rhalfup(array_jaccard(col("toks_a"), col("toks_b")), 4))
      .filter(col("jaccard") >= JaccardT)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Block-size ceiling for [[d05_embedding_neardup]]'s exact path.
    * A label block of B vectors costs B² scored pairs; 1k ⇒ ≤ 1e6
    * pairs per block, comfortably partition-local. Blocks beyond it
    * take the hyperplane-LSH route (cost ∝ bucket collisions). The
    * round-6 scale bench measured the old 10k ceiling letting sf1's
    * 2k-vector blocks run exact — 59× time at 10× data; 1k keeps the
    * oracle SFs (blocks ≤ 200) on the exact path while anything
    * scale-shaped goes to LSH. */
  private[graft] val D05MaxExactBlock = 1000L

  /** Embedding-cosine near-duplicate candidates: for every vector, its
    * single most-similar neighbor within the same `label` block.
    * Cosine runs in the custom codegen'd
    * [[graft.functions.CosineSimilarity]] expression.
    *
    * Scale guard: the exact all-pairs path is O(B²) per block, which
    * is the corpus² when labels are few. Blocks larger than `maxBlock`
    * are therefore routed through the same random-hyperplane LSH
    * scheme as [[Similarity.s02_ann_lsh]] (bucket + hamming-1
    * multi-probe, exact ranking within probed buckets) — approximate
    * (a vector with no bucket collision yields no row), but cost is
    * proportional to collisions, not B². The oracle runs at SFs where
    * every block is under the ceiling, so the checked path is exact.
    */
  def d05_embedding_neardup: Q = (s, d) =>
    embeddingNearDup(Tables.embeddings(s, d), D05MaxExactBlock)

  private[graft] def embeddingNearDup(e: DataFrame, maxBlock: Long): DataFrame =
    blockedKnn(e, 1, maxBlock)
      .select(col("vec_id"), col("nn_id"), col("cos"))
      .orderBy(col("vec_id"))

  /** Shared blocked-kNN core: exact within-`label` top-k for blocks
    * under `maxBlock`, hyperplane-LSH multi-probe for blocks over it —
    * the [[d05_embedding_neardup]] plan generalized from top-1 to
    * top-k. Returns (vec_id, nn_id, cos, rk) unordered; callers
    * project/order. [[Similarity.s14_knn_graph]] consumes it at k=3.
    */
  private[graft] def blockedKnn(e: DataFrame, k: Int, maxBlock: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = e.join(
      broadcast(e.groupBy(col("label")).agg(count(lit(1)).as("__bn"))),
      Seq("label"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nn_id"))
    def top1(pairs: DataFrame): DataFrame = pairs
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos", round(cosine_similarity(col("emb_a"), col("emb_b")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("nn_id"), col("cos"), col("rk"))

    val small = sized.filter(col("__bn") <= maxBlock)
    val exact = top1(
      small.select(col("label"), col("vec_id"), col("embedding").as("emb_a"))
        .join(small.select(col("label"), col("vec_id").as("nn_id"),
          col("embedding").as("emb_b")), Seq("label")))

    val big = sized.filter(col("__bn") > maxBlock)
    val corpus = big.select(col("label"), col("vec_id").as("nn_id"),
      col("embedding").as("emb_b"),
      lshSignature(e.sparkSession, col("embedding")).as("bucket"))
    val probes = big.select(col("label"), col("vec_id"),
        col("embedding").as("emb_a"),
        lshSignature(e.sparkSession, col("embedding")).as("sig"))
      .select(col("label"), col("vec_id"), col("emb_a"),
        explode(lshProbeArray(col("sig"))).as("bucket"))
    val approx = top1(corpus.join(probes, Seq("label", "bucket")))

    exact.unionByName(approx)
  }

  /** Bits per hyperplane-LSH signature in the oversized-block reroute
    * tiers ([[blockedKnn]], [[Similarity.communityDedup]]). */
  private[graft] val LshPlanes = 16

  /** The shared oversized-block LSH signature: one 16-bit
    * random-hyperplane bucket per vector, from the codegen'd
    * [[graft.functions.HyperplaneSigs]] (1 table × [[LshPlanes]] bits;
    * cached plane matrix drawn from a fixed seeded stream, so bucket
    * values are reproducible across operators and runs).
    *
    * Hyperplanes must span the FULL embedding width — the dot inside
    * hyperplane_sigs truncates to min(row length, dim), so an
    * undersized plane matrix would silently hash only a prefix of
    * wider embeddings. The dim comes from configuration
    * ([[graft.Tables.embeddingDim]]) — a property of the embedding
    * model, known before any job — NOT from a max(size(embedding))
    * pre-scan, which at 100 TB is a full extra pass over the widest
    * column before the real work starts. The in-plan raise_error
    * guard turns a mis-configured dim into a loud failure on the
    * first oversized row instead of a silent prefix hash.
    */
  private[graft] def lshSignature(s: SparkSession, emb: Column): Column = {
    import graft.functions.VectorFunctions.hyperplane_sigs
    val dim = graft.Tables.embeddingDim(s)
    when(size(emb) > dim, raise_error(concat(
      lit(s"lshSignature: embedding wider than configured " +
        s"spark.graft.embedding.dim=$dim (got "),
      size(emb).cast("string"),
      lit(") — hashing a prefix would corrupt LSH buckets"))))
      .otherwise(element_at(hyperplane_sigs(emb, 1, LshPlanes, dim, 42L), 1))
  }

  /** Multi-probe set for an [[lshSignature]] bucket: the bucket itself
    * plus its [[LshPlanes]] hamming-1 neighbors — flipping one
    * hyperplane bit recovers near-neighbors that straddle a single
    * plane, the standard multi-probe recall lever. */
  private[graft] def lshProbeArray(sig: Column): Column =
    array(sig +: (0 until LshPlanes).map(p =>
      sig.bitwiseXOR(shiftleft(lit(1), p))): _*)

  /** Shared two-tier SemDeDup domination core — the pair join behind
    * [[d15_semantic_dedup]] (scope = `label` blocks) and
    * [[Similarity.s17_community_dedup]] (scope = LPA communities).
    * `withScope` carries (scope, __n = scope size, vec_id, embedding);
    * returns (vec_id, dominated_by = min lower-id scope member at
    * cosine ≥ τ), only for dominated vectors.
    *
    * Scopes at or under `maxExact` members pay the exact c² pair
    * join; larger ones route through the hyperplane-LSH bucket join
    * ([[lshSignature]] multi-probe — a dominating near-twin collides
    * with its victim's bucket or a hamming-1 probe with high
    * probability), so cost above the ceiling is ∝ bucket collisions,
    * never c². Multi-probe can surface the same (victim, dominator)
    * via several buckets; the min(dom_id) aggregate absorbs the
    * duplicates. The oracle-checked SFs keep every scope under the
    * ceiling, so the approximate tier never fires there — the
    * d05/s14 guarantee.
    */
  private[graft] def scopedDomination(withScope: DataFrame, maxExact: Long,
      tau: Double): DataFrame = {
    val s = withScope.sparkSession
    def domPairs(pairs: DataFrame): DataFrame = pairs
      .filter(col("dom_id") < col("vec_id"))
      .filter(round(cosine_similarity(col("emb_a"), col("emb_b")), 4) >= tau)
      .select(col("vec_id"), col("dom_id"))

    val small = withScope.filter(col("__n") <= maxExact)
    val exact = domPairs(
      small.select(col("scope"), col("vec_id").as("dom_id"),
          col("embedding").as("emb_a"))
        .join(small.select(col("scope"), col("vec_id"),
          col("embedding").as("emb_b")), Seq("scope")))

    val big = withScope.filter(col("__n") > maxExact)
    val corpus = big.select(col("scope"), col("vec_id").as("dom_id"),
      col("embedding").as("emb_a"),
      lshSignature(s, col("embedding")).as("bucket"))
    val probes = big.select(col("scope"), col("vec_id"),
        col("embedding").as("emb_b"),
        lshSignature(s, col("embedding")).as("sig"))
      .select(col("scope"), col("vec_id"), col("emb_b"),
        explode(lshProbeArray(col("sig"))).as("bucket"))
    val approx = domPairs(corpus.join(probes, Seq("scope", "bucket")))

    exact.unionByName(approx)
      .groupBy(col("vec_id"))
      .agg(min(col("dom_id")).as("dominated_by"))
  }

  /** Corpus-level (group-vs-group) similarity via the custom
    * [[graft.functions.MinHashUnionAgg]] typed aggregator: one map-side
    * pass computes a union MinHash signature per source, then the tiny
    * source×source matrix estimates Jaccard from slot agreement — no
    * document pairs ever materialize. The 100 TB shape for "which data
    * sources overlap?". Rows-only (sketch-based).
    */
  def d06_source_similarity: Q = (s, d) => {
    import graft.functions.TextHashFunctions.minhash_signature
    import graft.functions.MinHashUnionAgg.{minhash_union, estimated_jaccard}
    val sigs = graft.CacheScope.persisted(
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"),
          minhash_signature(shingles(tokens(col("text"))), 64).as("sig"))
        .groupBy(col("source"))
        .agg(minhash_union(col("sig"), 64).as("usig"))
    ) // both sides of the source×source matrix
    val a = sigs.select(col("source").as("src_a"), col("usig").as("sig_a"))
    val b = sigs.select(col("source").as("src_b"), col("usig").as("sig_b"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(estimated_jaccard(col("sig_a"), col("sig_b")), 4).as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** EXACT cross-source duplicate matrix — the ground-truth counterpart
    * of [[d06_source_similarity]]'s sketch: for every source pair, how
    * many canonical fingerprints (t04's case/punct-insensitive md5)
    * they share, plus the exact fingerprint-set Jaccard. The "is my new
    * crawl already covered by an existing source?" audit.
    *
    * Scale shape: distinct (source, fp) is one shuffle that collapses
    * the corpus to ≤ |sources|·|distinct fps| slim rows; the self-join
    * shuffles only 16-byte digests keyed by fp, and per-fp groups are
    * bounded by |sources| (a fp can appear at most once per source
    * after the distinct) so no key can skew; per-source totals are a
    * tiny broadcast. Output is |sources|² rows regardless of corpus
    * size. Jaccard is ints + one division (rhalfup — a pure integer
    * ratio can land on a representable half).
    */
  def d18_source_overlap: Q = (s, d) => sourceOverlap(Tables.documents(s, d))

  private[graft] def sourceOverlap(docs: DataFrame): DataFrame = {
    val fp = graft.CacheScope.persisted(
      docs
        .select(col("source"),
          md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fp"))
        .distinct())
    val perSource = fp.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = fp.select(col("source").as("src_a"), col("fp"))
    val b = fp.select(col("source").as("src_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(perSource.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(perSource.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        Tables.rhalfup(col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** d19 — exact cross-document repeated n-gram spans (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * every 8-word gram that appears in ≥2 distinct documents, i.e. the
    * verbatim spans a model would see repeatedly during training. The
    * exact complement to t05's winnowing approximation.
    *
    * Scale shape: grams are array_distinct'ed per row BEFORE the
    * explode (a doc repeating one span contributes one posting), then
    * ONE count shuffle keyed by the gram digest; only the 16-byte md5
    * ever shuffles or is emitted — the gram text dies at the scan.
    * Output ∝ repeated spans, not corpus size.
    */
  def d19_repeated_ngrams: Q = (s, d) =>
    repeatedNgrams(Tables.documents(s, d))

  private[graft] def repeatedNgrams(docs: DataFrame, n: Int = 8): DataFrame = {
    import graft.functions.TextHashFunctions.word_shingles
    val toks = array_remove(split(lower(col("text")), "\\s+"), "")
    docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(word_shingles(col("toks"), n))).as("gram"))
      .groupBy(md5(col("gram")).as("gram_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("gram_hash"))
  }

  /** Snapshot diff — the monthly-dump CDC primitive: which documents
    * were added, removed, or changed between two corpus snapshots.
    * Expressed as one full-outer join on the key with content compared
    * by hash (never by full text — the hash is computed scan-side so
    * only (key, 16-byte digest) ever shuffles). At scale both
    * snapshots bucket by doc_id and the join is exchange-free.
    *
    * Snapshots are derived deterministically from the one testdata
    * corpus: A drops ids ≡ 9 (mod 10), B drops ids ≡ 0 (mod 10) and
    * uppercases text for ids ≡ 0 (mod 13) — yielding all three diff
    * classes.
    */
  def d07_snapshot_diff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val snapA = docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), md5(col("text")).as("h_a"))
    val snapB = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 13 === 0, upper(col("text")))
          .otherwise(col("text"))).as("h_b"))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-cluster assignment: connected components over the
    * verified near-duplicate pairs of [[d04_ngram_jaccard]], so every
    * document in a transitive duplicate chain gets one canonical
    * `cluster_id` (the minimum doc_id reachable from it) — the step a
    * curation pipeline runs after pair generation, since keeping "one
    * of each pair" over-deletes when chains overlap.
    *
    * Implementation, two-tier by edge count (known for free from the
    * cache-materializing count):
    *
    *   - ≤ [[LocalCCMaxEdges]] edges: single-task union-find
    *     (path-halving) over one coalesced partition. Near-duplicate
    *     graphs are SPARSE by construction — pairs that survived a
    *     0.8-Jaccard verify are a sliver of the corpus even at 100 TB
    *     (the pair list is what d04 bounds), so this is the common
    *     case, and it replaces ~4 distributed rounds × 3 shuffle
    *     stages with ONE linear pass. The graph that fits this path
    *     always fits one executor: 5M edges ≈ 80 MB of longs.
    *
    *   - larger graphs: min-label propagation with Shiloach–Vishkin
    *     pointer jumping — labels start as own id; each round every
    *     node takes the min of its own and its neighbors' labels, then
    *     follows the result one more hop (l(v) ← l(l(v))). The
    *     neighbor step spreads the minimum locally, the jump collapses
    *     label chains geometrically, so rounds are O(log n) — not
    *     O(component diameter) — and the hard cap of 25 covers
    *     components of ~2^25 nodes. Each round is two joins + one
    *     aggregation, all shuffled on the node id, ended by an eager
    *     localCheckpoint so nothing is ever recomputed across rounds
    *     (see the inline note).
    *
    * Both tiers emit the identical labeling (cluster_id = min doc_id
    * of the component), so the oracle and every caller are
    * path-agnostic; DedupSpec checks them against each other.
    */
  def d09_dup_clusters: Q = (s, d) =>
    dupClusters(
      ngramJaccardPairs(Tables.documents(s, d)).select(col("id_a"), col("id_b")))

  /** Edge-count ceiling for the partition-local union-find tier of
    * [[dupClusters]]. Counted over SYMMETRIZED edges (each input pair
    * contributes two directed rows), so the effective input-pair
    * ceiling is 2.5M. 5M symmetrized edges ≈ 80 MB on one task (the
    * transient node snapshot in the union-find pass can double that —
    * still far under executor memory), far over any plausible
    * post-verify near-duplicate pair list short of a pathological
    * corpus. */
  private[graft] val LocalCCMaxEdges = 5000000L

  private[graft] def dupClusters(pairs: DataFrame): DataFrame =
    dupClusters(pairs, LocalCCMaxEdges)

  private[graft] def dupClusters(pairs: DataFrame, localMaxEdges: Long): DataFrame = {
    // symmetrize with ONE map-side explode, not a self-union: a union
    // embeds the (expensive, unpersisted) pair pipeline TWICE in this
    // plan, and AQE runs the two copies as concurrent query-stage
    // trees — the round-14 profile showed every candidate/verify stage
    // of ngramJaccardPairs duplicated pairwise above the edge count
    // (guide §2.4: don't recompute what one scan can fan out ×2
    // row-locally)
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // materialize the edge cache in its own job: round 1 scans edges
    // twice (label init + neighbor join), and two concurrent scans of
    // an unmaterialized cache would each run the pair pipeline
    val edgeCount = edges.count()
    if (edgeCount <= localMaxEdges) {
      // Tier 1: the whole (sparse) graph on one task. coalesce is a
      // narrow dep over the cached blocks — no shuffle to get here.
      val spark = pairs.sparkSession
      import spark.implicits._
      val labeled = edges.select(col("src"), col("dst")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          // union-find with path halving; roots relabeled to the
          // component minimum afterwards so the output labeling is
          // identical to the propagation tier's
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x0: Long): Long = {
            var x = x0
            var p = parent.getOrElse(x, x)
            while (p != x) {
              val gp = parent.getOrElse(p, p)
              parent.update(x, gp) // path halving
              x = gp
              p = parent.getOrElse(x, x)
            }
            x
          }
          it.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) {
              // union by min keeps roots = component minimum as we go
              if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
            } else if (!parent.contains(a)) parent.update(a, a)
          }
          // every node that appeared in an edge gets (node, min-root).
          // Snapshot keys∪values BEFORE labeling: find() path-halves
          // (mutates parent), and mutating a LongMap mid-iteration is
          // undefined. Every edge endpoint is a key or a value: the
          // losing root of its first union becomes a key, the winning
          // root a value, and the ra==rb branch self-inserts.
          val all = scala.collection.mutable.ArrayBuffer.empty[Long]
          parent.foreachKey { k => all += k; () }
          parent.foreachValue { v => all += v; () }
          val nodes = scala.collection.mutable.LongMap.empty[Long]
          all.foreach { k => if (!nodes.contains(k)) nodes.update(k, find(k)) }
          nodes.iterator
        }
        .toDF("doc_id", "cluster_id")
      // materialize before dropping the edge cache the plan reads from;
      // CacheScope tracks the checkpoint blocks for post-consumption
      // release (clearCache cannot evict RDD-level blocks)
      val out = graft.CacheScope.checkpointed(labeled)
      edges.unpersist()
      return out.orderBy(col("doc_id"))
    }
    // Iterative loop discipline: every round ends in an EAGER
    // localCheckpoint, not persist(). A persisted round would keep the
    // previous round in its lineage, and both paths through the cache
    // machinery burn: a limit-style convergence probe (isEmpty) only
    // materializes the partitions it touches, and unpersisting round r
    // CASCADE-recaches round r+1 (clearing its buffers) because its
    // plan references the dropped InMemoryRelation — each round then
    // recomputed the whole chain (measured: 96 s, then 45 s at sf0.1).
    // CacheScope.cut cuts the lineage to a LogicalRDD: round r+1
    // cannot be invalidated and the final plan is independent of every
    // intermediate, so nothing in the loop is ever recomputed (1.5 s).
    // cut() is localCheckpoint here and reliable checkpoint(dir) when
    // spark.graft.checkpointDir is set — on a multi-node cluster the
    // reliable form survives executor loss mid-loop (localCheckpoint
    // blocks die with their executor).
    // fused first round: label₀(v) = min(v, min(neighbors(v))) is
    // exactly what propagation round 1 would compute from the identity
    // labeling, but as ONE aggregate over the (symmetrized) edge list —
    // no join, no extra checkpoint, one fewer trip around the loop.
    // The loop invariants hold from any labeling where label(v) is a
    // node of v's component with label(v) ≤ v, which this satisfies.
    var labels = graft.CacheScope.cut(edges
      .select(col("src").as("id"), least(col("src"), col("dst")).as("cluster"))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster")))
    var changed = true
    var rounds = 0
    while (changed && rounds < 25) {
      val viaNbr = edges
        .join(labels.select(col("id").as("dst"), col("cluster")), Seq("dst"))
        .select(col("src").as("id"), col("cluster"))
      // the previous label rides along as `old` (MaxValue on neighbor
      // rows, so min(old) recovers each node's own previous label) —
      // convergence is a filter over THIS table, no second join
      val prop = labels.select(col("id"), col("cluster"), col("cluster").as("old"))
        .unionByName(viaNbr.withColumn("old", lit(Long.MaxValue)))
        .groupBy(col("id"))
        .agg(min(col("cluster")).as("cluster"), min(col("old")).as("old"))
      // pointer jump (Shiloach–Vishkin shortcut): follow the fresh
      // label one more hop, l(v) ← l(l(v)). A label is always the id
      // of a node in the same component and only ever decreases, so
      // shortcutting preserves both invariants while collapsing label
      // chains geometrically — rounds become O(log n) instead of
      // O(component diameter), which is what makes the 25-round cap
      // safe for adversarially deep duplicate chains (2^25 ≈ 33M).
      // prop appears on both sides of the self-join; ReuseExchange
      // dedups its shuffle, the (cheap) aggregation above it runs once
      // per side — acceptable vs a second eager checkpoint per round
      val next = graft.CacheScope.cut(prop
        .join(prop.select(col("id").as("cluster"), col("cluster").as("jump")),
          Seq("cluster"), "left")
        .select(col("id"),
          coalesce(col("jump"), col("cluster")).as("cluster"), col("old")))
      changed = next.filter(col("cluster") < col("old")).count() > 0
      // free the PREVIOUS round's checkpoint blocks explicitly —
      // clearCache() only evicts SQL InMemoryRelations, not these RDD
      // blocks, and waiting on ContextCleaner GC lets up to 25 rounds
      // of label tables pile up in a long session
      graft.CacheScope.release(labels)
      labels = next.select(col("id"), col("cluster"))
      rounds += 1
    }
    if (changed)
      System.err.println(
        s"[dupClusters] label propagation hit the $rounds-round cap before " +
          "converging — labels are partially propagated (with pointer " +
          "jumping this needs a component of ~2^25 nodes; verify the input)")
    edges.unpersist()
    // the surviving final-round checkpoint blocks are released by the
    // harness after it consumes the result (intermediate rounds were
    // unpersisted eagerly inside the loop)
    graft.CacheScope.trackRddsOf(labels)
    labels.select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** d17 — cross-signal duplicate clusters: connected components over
    * the UNION of text near-duplicate pairs ([[d04_ngram_jaccard]],
    * exact-verified) and media perceptual-hash collisions
    * ([[Multimodal.phashes]] aHash groups) — "the same item by ANY
    * signal". A re-encoded image attached to a rewritten caption
    * still chains into its source's cluster, which per-signal dedup
    * can never do. Media groups contribute hub-and-spoke edges
    * (min-id ↔ member), not the n² within-group pairs — same
    * component, linear edge count. Clustering reuses [[dupClusters]]'
    * two-tier CC unchanged.
    * Rows-only (phash values are engine-specific).
    */
  def d17_multimodal_clusters: Q = (s, d) =>
    multimodalClusters(
      ngramJaccardPairs(Tables.documents(s, d)).select(col("id_a"), col("id_b")),
      Multimodal.synthesizeMedia(s, d))

  private[graft] def multimodalClusters(textPairs: DataFrame,
      media: DataFrame): DataFrame = {
    val hashed = Multimodal.phashes(media)
    dupClusters(textPairs.unionByName(
      hubSpokeEdges(hashed.select(col("phash").as("gkey"), col("doc_id")))))
  }

  /** Groups `(gkey, doc_id)` → linear hub-and-spoke edge list: each
    * multi-member group contributes (min doc_id ↔ member) edges — the
    * same component as the n² within-group clique at |group|−1 edges.
    * Shared by [[multimodalClusters]] (phash groups) and
    * [[d21_crossmodal_cc]] (deterministic fingerprint groups, which is
    * what lets the CC machinery be hash-checked against an oracle). */
  private[graft] def hubSpokeEdges(groups: DataFrame): DataFrame = {
    val hubs = groups.groupBy(col("gkey"))
      .agg(min(col("doc_id")).as("hub"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("gkey"), col("hub"))
    groups.join(hubs, Seq("gkey"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("id_a"), col("doc_id").as("id_b"))
  }

  /** d21 — [[d17_multimodal_clusters]]' connected-component core under
    * an EXACT oracle: the identical union + hub-and-spoke + two-tier
    * CC machinery, with the second signal swapped from engine-specific
    * perceptual hashes to t04's deterministic canonical fingerprint
    * (case/punct-insensitive md5) groups. d17 itself stays rows-only —
    * its hash INPUTS can't be mirrored in SQL — but every relational
    * operator it runs is hash-checked here against a recursive-CTE
    * oracle, so a CC regression can no longer hide behind the
    * rows-only check.
    */
  def d21_crossmodal_cc: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val fpGroups = docs.select(
      md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("gkey"),
      col("doc_id"))
    dupClusters(
      ngramJaccardPairs(docs).select(col("id_a"), col("id_b"))
        .unionByName(hubSpokeEdges(fpGroups)))
  }

  /** d16 — incremental NEAR-duplicate screening: the near-dup
    * extension of d12's exact incremental dedup. The standing corpus
    * keeps a banded-MinHash signature INDEX (here derived on the fly;
    * in production written once to parquet bucketed by band hash and
    * only appended to); a new delivery is screened by banding only
    * ITS documents and joining against the index — the corpus text is
    * touched only for the exact-Jaccard verify of collided candidates,
    * never re-scanned wholesale. Per delivery doc: how many corpus
    * near-dups it collides with, and the accept/reject decision.
    *
    * Scale: delivery-side work ∝ delivery size; index join cost ∝
    * band collisions (16×4 banding, the d02 s-curve); verify cost ∝
    * candidates. A 100 TB corpus with a 1 GB daily delivery does
    * delivery-sized work, which is the entire point. Rows-only (LSH
    * banding is engine-specific); DedupSpec proves matches ⊆
    * brute-force shingle-Jaccard truth.
    */
  def d16_incremental_neardup: Q = (s, d) => {
    import graft.functions.TextHashFunctions.minhash_bands
    incrementalScreen(Tables.documents(s, d),
      sh => minhash_bands(sh, 16, 4))
  }

  /** d32 — [[d16_incremental_neardup]]'s relational screen core under
    * an EXACT oracle (the d21 trick): the IDENTICAL corpus/delivery
    * split, band-index probe join, candidate distinct, exact-Jaccard
    * verify, and accept decision, with the banding swapped from
    * engine-specific MinHash buckets to deterministic per-shingle
    * digests SQL can mirror (md5 collides iff the shingles are equal,
    * so shared-digest ≡ shared-shingle). d16 itself stays rows-only —
    * MinHash bucket values can't be mirrored in SQL — but every
    * relational operator it runs is hash-checked here, so a screen
    * regression can no longer hide behind the rows-only check. (The
    * digest banding recalls MORE candidates than LSH — any shared
    * shingle, the d04 regime — so this is the same machinery under a
    * heavier candidate load.)
    */
  def d32_screen_core: Q = (s, d) =>
    incrementalScreen(Tables.documents(s, d),
      sh => transform(array_distinct(sh), x => md5(x)))

  /** Shared incremental-screen core of d16/d32: `bands` maps a doc's
    * shingle array to its index keys. */
  private[graft] def incrementalScreen(documents: DataFrame,
      bands: Column => Column): DataFrame = {
    import graft.functions.TextHashFunctions.array_jaccard
    val all = documents
      .select(col("doc_id"), shingles(tokens(col("text"))).as("sh"))
    val corpus = graft.CacheScope.persisted(
      all.filter(col("doc_id") % 17 =!= 0)) // standing corpus
    val delivery = graft.CacheScope.persisted(
      all.filter(col("doc_id") % 17 === 0)) // new delivery
    // the persistent index: (band hash, doc_id) per corpus doc
    val index = corpus.select(col("doc_id").as("corpus_id"),
      explode(array_distinct(bands(col("sh")))).as("bh"))
    val probes = delivery.select(col("doc_id"),
      explode(array_distinct(bands(col("sh")))).as("bh"))
    val candidates = probes.join(index, Seq("bh"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    val verified = candidates
      .join(delivery.select(col("doc_id"), col("sh").as("sh_d")), Seq("doc_id"))
      .join(corpus.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
        Seq("corpus_id"))
      .filter(array_jaccard(col("sh_d"), col("sh_c")) >= 0.5)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    delivery.select(col("doc_id"))
      .join(verified, Seq("doc_id"), "left")
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
      .withColumn("accepted", col("n_matches") === 0)
      .orderBy(col("doc_id"))
  }

  /** d33 — leakage-free train/valid/test split: the fold assignment a
    * training build runs AFTER near-duplicate clustering, because an
    * id-hash split (q30's shape) leaks — two near-duplicates hash
    * independently, so a test document's twin lands in train and the
    * eval measures memorization instead of generalization. Here the
    * hash unit is the duplicate CLUSTER: every document's fold key is
    * its d09 cluster id (its own id when unclustered), so a transitive
    * duplicate chain moves between folds as one atom and no verified
    * pair ever straddles a fold boundary — by construction, not by
    * audit. Fold rates converge to 80/10/10 over CLUSTERS, the correct
    * unit, since leaking units is what the op exists to stop.
    *
    * Scale: d04's prefix-filtered pair build + the two-tier CC (both
    * measured ≤ linear at 25×) + one doc_id-keyed left join + a
    * map-side multiplicative hash (Knuth 2654435761 mod 2³², the t17
    * shard idiom) — the split itself adds no shuffle beyond the join.
    */
  def d33_leakage_split: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val clusters = dupClusters(
      ngramJaccardPairs(docs).select(col("id_a"), col("id_b")))
    val h = col("fold_key") % 2147483648L * 2654435761L % 4294967296L % 10L
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("fold_key", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("fold_key"),
        when(h < 8, "train").when(h === 8, "valid")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Cosine threshold for [[d15_semantic_dedup]]. Production SemDeDup
    * uses ~0.95 on real text embeddings; the synthetic testdata
    * vectors are near-orthogonal (top-1 cosine ≈ 0.13-0.48), so 0.35
    * is chosen to exercise both the kept and dominated branches at
    * every SF. The threshold is the one free parameter of the op. */
  private[graft] val D15Tau = 0.35

  /** d15 — semantic deduplication (SemDeDup, Abbas et al. 2023): drop
    * every embedding "dominated" by a LOWER-id vector in the same
    * cluster with cosine ≥ τ. Clusters here are the `label` blocks
    * (production: k-means cell ids — s03's layout); the keep-lowest-id
    * rule replaces the paper's keep-farthest-from-centroid so the
    * survivor set is order-independent and SQL-expressible (a greedy
    * chain would need sequential evaluation; domination by ANY lower
    * id needs only one pair join and one aggregate, and DuckDB mirrors
    * it exactly).
    *
    * Scale shape: identical to [[d05_embedding_neardup]] — the shared
    * [[scopedDomination]] two-tier core with scope = `label`: blocks
    * at or under `D05MaxExactBlock` pay the exact within-block pair
    * join; larger blocks route through the hyperplane-LSH bucket
    * join, so no block size can go quadratic. The oracle-checked SFs
    * stay under the ceiling (exact tier only). One shuffle on label,
    * one aggregate on vec_id.
    */
  def d15_semantic_dedup: Q = (s, d) => {
    // the committed oracle's plane literals are generated at
    // OracleEmbeddingDim — a different configured dim would hash with
    // a different plane matrix on the engine side and value-diverge at
    // 25× instead of failing here, loudly, at the source
    val dim = graft.Tables.embeddingDim(s)
    require(dim == OracleEmbeddingDim,
      s"d15_semantic_dedup: spark.graft.embedding.dim=$dim but the " +
        s"committed oracle's LSH plane literals assume $OracleEmbeddingDim — " +
        "regenerate the oracle (d15OracleSqlFor) for the new width")
    semanticDedup(Tables.embeddings(s, d), D15Tau)
  }

  private[graft] def semanticDedup(e: DataFrame, tau: Double,
      maxBlock: Long = D05MaxExactBlock): DataFrame = {
    // one persisted size-annotated frame feeds all pair-join sides and
    // the final carry — the corpus is scanned once, not five times.
    // The count join is NULL-SAFE (<=>): a plain equi-join would drop
    // null-label vectors from the carry entirely, while the oracle's
    // LEFT JOIN still emits them kept=true (they can't be dominated —
    // scopedDomination's equi-joins never pair a null scope).
    val counts = e.groupBy(col("label")).agg(count(lit(1)).as("__n"))
      .withColumnRenamed("label", "__lbl")
    val sized = graft.CacheScope.persisted(
      e.join(broadcast(counts), col("label") <=> col("__lbl"))
        .select(col("label").as("scope"), col("__n"), col("vec_id"),
          col("embedding")))
    val dom = scopedDomination(sized, maxBlock, tau)
    sized.select(col("vec_id"), col("scope").as("label"))
      .join(dom, Seq("vec_id"), "left")
      .withColumn("kept", col("dominated_by").isNull)
      .orderBy(col("vec_id"))
  }

  /** Target ground-truth sample size for [[d13_lsh_recall]]. ~1k docs
    * ⇒ ≤ ~1M candidate pairs (most removed by the size-ratio
    * prefilter before any array touch) — a constant eval cost at ANY
    * corpus size, sized so the recall CI stays tight while the eval
    * never dominates a bench run. */
  private[graft] val D13TargetSample = 1000L

  /** Fixed-size deterministic corpus sample: keep doc_ids whose
    * [[md5Hash60]] lands in bucket 0 of k = max(1, n/target) buckets.
    * Expected sample size is in [target, 2·target) regardless of
    * corpus size (the 60-bit md5 prefix scatters ids uniformly across
    * buckets), and the choice is a pure function of the doc_id set —
    * reproducible, unlike rand()-based sampling, and (the round-13
    * point) mirrored hash for hash by the DuckDB oracle, unlike the
    * xxhash64 it replaces. Costs one count() of the input at
    * plan-build time (metadata-cheap on parquet).
    */
  private[graft] def d13Sample(docs: DataFrame, target: Long): DataFrame = {
    val n = docs.count()
    val k = math.max(1L, n / math.max(1L, target))
    docs.filter(md5Hash60(col("doc_id").cast("string")) % lit(k) === 0)
  }

  /** The cross-engine deterministic 60-bit hash: the first 15 hex
    * chars of md5, read as an integer. md5 is the ONE hash Spark and
    * DuckDB evaluate bit-identically on the same UTF-8 string (the
    * t04 fingerprint discipline), and 15 hex digits = 60 bits keep
    * the value positive in a BIGINT on both sides. DuckDB mirror:
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`. */
  private[graft] def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** d13 — LSH recall evaluation: how much of the exact near-duplicate
    * truth does d02's banded MinHash actually find? The dedup-side
    * twin of s05's ANN recall gate: an index (LSH bands here) is only
    * trustworthy with a measured recall number next to it.
    *
    * Ground truth is brute-force Jaccard over a FIXED-SIZE
    * deterministic sample ([[d13Sample]], ~[[D13TargetSample]] docs at
    * any SF) — so both the broadcast (sample shingle arrays) and the
    * pair count O(target²) are constants, genuinely independent of
    * corpus size. (A proportional sample — e.g. doc_id % 5 — would
    * grow the broadcast linearly and the pair count quadratically with
    * the corpus: exactly the blowup the sketch exists to avoid.) The
    * d02 side still runs over the full corpus, as it must — recall is
    * measured against what the production pipeline actually emits.
    *
    * Oracle-checked since round 13: the sample hash is [[md5Hash60]]
    * (mirrored exactly), the truth is brute Jaccard the oracle
    * recomputes relationally, and the found side is [[
    * d02_minhash_lsh]]'s now-deterministic md5 sketch — so the whole
    * eval (sample, truth, sketch, recall arithmetic) sits under one
    * hash check instead of a rows-only row.
    */
  def d13_lsh_recall: Q = (s, d) => {
    import graft.functions.TextHashFunctions.array_jaccard
    val sample = d13Sample(Tables.documents(s, d), D13TargetSample)
      .select(col("doc_id"), shingles(tokens(col("text"))).as("sh"))
      .withColumn("sz", size(col("sh")))
    // cheap exact prefilters run before the per-pair set intersection:
    // J(A,B) ≥ 0.5 forces |A|/|B| ∈ [0.5, 2] (|∩| ≤ min, |∪| ≥ max),
    // so the integer size test discards most of the O(sample²) pairs
    // without ever touching the arrays — lossless by construction
    val truth = sample.select(col("doc_id").as("id_a"),
        col("sh").as("sh_a"), col("sz").as("sz_a"))
      .crossJoin(broadcast(sample.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b"), col("sz").as("sz_b"))))
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") <= col("sz_b") * 2 && col("sz_b") <= col("sz_a") * 2)
      .filter(array_jaccard(col("sh_a"), col("sh_b")) >= 0.5)
      .select(col("id_a"), col("id_b"))
    val found = d02_minhash_lsh(s, d).select(
      col("id_a"), col("id_b"), lit(1).as("__found"))
    truth.join(found, Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("n_true_pairs"),
        // sum over zero rows is NULL, not 0 — the empty-truth row
        // should read (0, 0, 1.0)
        coalesce(sum(when(col("__found").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_found"))
      .withColumn("recall",
        when(col("n_true_pairs") === 0, lit(1.0))
          .otherwise(graft.Tables.rhalfup(
            col("n_found") / col("n_true_pairs"), 4)))
  }

  /** d22 — exact substring-overlap pairs: for every document pair
    * sharing at least one verbatim 8-word gram, the length (in tokens)
    * of their LONGEST shared verbatim run plus the total matched-gram
    * count. This is the pairwise refinement of [[d19_repeated_ngrams]]
    * (which reports corpus-wide repeated grams without saying WHICH
    * pairs share long spans) — the signal a curation pipeline
    * thresholds to drop "substantially overlapping" documents (Lee et
    * al. 2022 use a 50-token exact-substring criterion; the 8-gram
    * granularity here detects any run ≥ 9 tokens).
    *
    * Longest-run detection is gaps-and-islands over matched gram
    * POSITIONS: a shared run of length L contributes L−7 consecutive
    * gram matches on one diagonal (pa − pb constant), so
    * `pa − row_number()` within (pair, diagonal) labels each island
    * and max(island size)+7 is the run length in tokens.
    *
    * Scale shape: grams leave the scan as 16-byte digests with their
    * position; a df-capped stoplist (same corpus-FRACTION cap as t05 —
    * boilerplate grams shared by everyone would square the join)
    * bounds the per-gram fan-out, so matched pairs ∝ genuinely shared
    * spans. The window partitions by (pair, diagonal) — millions of
    * tiny partitions, no skew.
    */
  def d22_substring_pairs: Q = (s, d) =>
    substringPairs(Tables.documents(s, d))

  private[graft] def substringPairs(docs: DataFrame, n: Int = 8): DataFrame = {
    import graft.functions.TextHashFunctions.word_shingles
    import org.apache.spark.sql.expressions.Window
    val toks = array_remove(split(lower(col("text")), "\\s+"), "")
    val grams = graft.CacheScope.persisted(
      docs.select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col("doc_id"),
          posexplode(word_shingles(col("toks"), n)).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("pos"), md5(col("gram")).as("gh")))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val eligible = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") >= 2 &&
        col("df") <= greatest(lit(20.0), col("n_docs") / lit(250.0)))
      .select(col("gh"))
    val posted = grams.join(eligible, Seq("gh"))
    val a = posted.select(col("gh"), col("doc_id").as("id_a"), col("pos").as("pa"))
    val b = posted.select(col("gh"), col("doc_id").as("id_b"), col("pos").as("pb"))
    val hits = a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val wIsl = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    hits
      .withColumn("grp", col("pa") - row_number().over(wIsl))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((max(col("run")) + lit(n - 1)).as("max_run_tokens"),
        sum(col("run")).as("n_shared_grams"))
      .filter(col("max_run_tokens") >= n + 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d23 — incremental gram-level novelty: treating documents with
    * `doc_id % 7 == 3` as the NEW delivery and the rest as the
    * standing corpus, score each new document by the fraction of its
    * distinct 8-grams never seen in the standing corpus. Doc-level
    * incremental dedup (d12/d16) answers "is this document a dup?";
    * this answers "how much NEW text does it add?" — the metric a
    * crawl pipeline tracks per delivery to detect collapsing sources.
    *
    * Scale shape: both sides reduce to 16-byte digests at the scan;
    * the standing side is one distinct on digests (the standing gram
    * index a real pipeline keeps materialized), the probe is a
    * digest-keyed left join sized by the DELIVERY, not the corpus.
    */
  def d23_gram_novelty: Q = (s, d) =>
    gramNovelty(Tables.documents(s, d))

  private[graft] def gramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    import graft.functions.TextHashFunctions.word_shingles
    val toks = array_remove(split(lower(col("text")), "\\s+"), "")
    val grams = docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(word_shingles(col("toks"), n))).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("gh"))
    val standing = grams.filter(col("doc_id") % 7 =!= 3)
      .select(col("gh")).distinct()
      .withColumn("seen", lit(1))
    grams.filter(col("doc_id") % 7 === 3)
      .join(standing, Seq("gh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        Tables.rhalfup(col("n_novel") / col("n_grams"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** d24 — CCNet-style line-level dedup: the corpus deduplicated at
    * sub-document granularity. Every doc is split into consecutive
    * 10-token lines (the synthetic corpus has no newlines; on real
    * data the splitter is `split(text, '\n')` — same plan shape),
    * each line keyed by its 128-bit md5 digest, and only the FIRST
    * corpus-wide occurrence (by doc_id, line_no) survives. Docs are
    * reassembled from their surviving lines in order — the standard
    * boilerplate killer that doc-level dedup (d01) cannot express:
    * two distinct docs sharing a header lose the second copy of the
    * header, not a whole doc.
    *
    * Scale: the first-wins window partitions on the digest — uniform
    * 16-byte keys, never the line text; reassembly is one doc-keyed
    * agg. Both shuffles are linear in corpus size.
    */
  def d24_line_dedup: Q = (s, d) => lineDedup(Tables.documents(s, d))

  /** Docs split into consecutive `lineTok`-token lines — the shared
    * front half of the line-granularity ops (d24 first-wins dedup,
    * d26 boilerplate scrub). Map-only: one posexplode per doc. */
  private def docLines(docs: DataFrame, lineTok: Int): DataFrame = {
    val toks = array_remove(split(lower(col("text")), "\\s+"), "")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(cast(ceil(size(toks) / $lineTok.0) as int), 1) - 1),
           |  i -> array_join(slice(toks, i * $lineTok + 1, $lineTok), ' '))"""
          .stripMargin)))
      .toDF("doc_id", "line_no", "line")
  }

  /** Docs rebuilt from the lines whose `keep` flag survived — the
    * shared back half of the line-granularity ops. One doc-keyed agg;
    * collect_list drops the nulls from the un-kept branch and the
    * struct sort restores line order partition-order-proof. */
  private def reassembleKept(lines: DataFrame): DataFrame =
    lines
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("line_no"), col("line"))))),
          s => s.getField("line")), " ").as("clean_text"))
      .orderBy(col("doc_id"))

  private[graft] def lineDedup(docs: DataFrame, lineTok: Int = 10): DataFrame = {
    // first-wins as a combinable min(struct(doc_id, line_no)) per line
    // digest instead of a digest-keyed window: the exact lines this op
    // exists for (boilerplate repeated in millions of docs) are hot
    // window keys that would land whole on one task, while the agg
    // combines map-side and the 1-row-per-digest winner table joins
    // back skew-tolerantly (AQE splits a hot probe side; a window
    // partition cannot be split).
    val lines = graft.CacheScope.persisted(
      docLines(docs, lineTok).withColumn("lh", md5(col("line"))))
    val first = lines.groupBy(col("lh"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("w"))
    reassembleKept(lines
      .join(first, Seq("lh"))
      .withColumn("keep", col("doc_id") === col("w.doc_id") &&
        col("line_no") === col("w.line_no"))
      .drop("lh", "w"))
  }

  /** d26 — boilerplate scrub (the CCNet/Dolma shard-level filter d24's
    * first-wins rule is NOT): a line occurring in ≥ `minDocs` DISTINCT
    * docs is boilerplate — headers, navigation, license footers — and
    * is removed from EVERY doc, first occurrence included. d24 answers
    * "keep one copy of shared text"; d26 answers "this text is
    * template noise, keep zero copies". Docs are reassembled from
    * their surviving lines; docs scrubbed to nothing still emit a row
    * (n_kept = 0) so the curation gate downstream sees them.
    *
    * Scale: line frequency is one agg keyed by the 16-byte md5 digest
    * (uniform — the line text never shuffles); the boilerplate set is
    * tiny by construction (≤ distinct-lines / minDocs, in practice the
    * handful of shared templates), so the scrub join is a broadcast
    * left join under AQE and the scan side never re-shuffles; the
    * reassembly is the same doc-keyed agg as d24. Hot boilerplate
    * digests never concentrate on a reducer — the frequency agg is
    * partial+final, the scrub is map-side.
    */
  def d26_boilerplate: Q = (s, d) => boilerplateScrub(Tables.documents(s, d))

  private[graft] def boilerplateScrub(docs: DataFrame, lineTok: Int = 10,
                                      minDocs: Long = 3L): DataFrame = {
    val lines = docLines(docs, lineTok)
    val boiler = lines
      .groupBy(md5(col("line")).as("h"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    reassembleKept(lines
      .withColumn("h", md5(col("line")))
      .join(boiler.withColumnRenamed("h", "bh"),
        col("h") === col("bh"), "left")
      .withColumn("keep", col("bh").isNull))
  }

  /** d30 — cross-document duplicated-SPAN removal: any token position
    * covered by an 8-gram occurring in ≥ 2 DISTINCT docs is cut, and
    * docs are reassembled from the surviving tokens. This is the
    * span-granularity member of the scrub family — d24 keeps one copy
    * of a shared line, d26 deletes template lines everywhere, d30
    * deletes *verbatim shared runs* at token resolution (the
    * "deduplicate training data at the substring level" transform;
    * exact-substring span dedup à la Lee et al. 2022, with the fixed
    * 8-token window standing in for their ≥ 50-token suffix-array
    * spans — same semantics, window-join shape instead of a global
    * suffix array). Within-doc self-repetition does NOT trigger
    * removal (distinct-doc count, not occurrence count) — that class
    * is t11's job.
    *
    * Scale: the per-position gram rows are corpus-linear (one row per
    * token, 16-byte digest computed scan-side — gram text never
    * shuffles); the dup-gram set is a partial+final agg on the
    * digest; covered positions explode only dup-hit grams (∝ shared
    * text volume, ×8 constant); the anti-join and the reassembly agg
    * are both keyed (doc_id, pos) / doc_id, so AQE coalesces them
    * into doc-local work. No pair of documents is ever joined.
    */
  def d30_span_scrub: Q = (s, d) => spanScrub(Tables.documents(s, d))

  private[graft] def spanScrub(docs: DataFrame, n: Int = 8): DataFrame = {
    import graft.functions.TextHashFunctions.word_shingles
    val toks = array_remove(split(lower(col("text")), "\\s+"), "")
    val base = graft.CacheScope.persisted(
      docs.select(col("doc_id"), toks.as("toks")))
    val grams = graft.CacheScope.persisted(
      base.filter(size(col("toks")) >= n)
        .select(col("doc_id"), posexplode(word_shingles(col("toks"), n)))
        .select(col("doc_id"), col("pos"), md5(col("col")).as("gh")))
    val dup = grams.groupBy(col("gh"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gh"))
    val covered = grams.join(dup, Seq("gh"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = base
      .select(col("doc_id"), posexplode(col("toks")))
      .toDF("doc_id", "pos", "tok")
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    base.select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** d27 — asymmetric near-dup via Jaccard CONTAINMENT (Broder 1997's
    * second resemblance measure): |A∩B| / |A| ≥ 0.9 over distinct
    * 8-gram shingle sets, reported for the ordered pair (contained
    * id_a → container id_b, n_a ≤ n_b). This is the dup class
    * symmetric Jaccard (d04) is structurally blind to: a doc quoted
    * whole inside a larger aggregator page has containment ~1.0 but
    * Jaccard bounded by the size ratio. Shingles, not tokens: the
    * corpus's per-doc DISTINCT-token vocabulary is tiny (≤ ~30), so
    * token-set containment is vacuously high everywhere (measured
    * 1.8M accidental pairs at sf0.1), while position-bearing 8-grams
    * only match on genuinely shared text. Blocked per language;
    * equal-size mirror pairs are emitted once (id_a < id_b).
    *
    * Scale: prefix filtering adapts to containment's asymmetry — only
    * the CONTAINED side can be prefix-pruned (a candidate must match
    * one of A's first n_a − ⌈τ'·n_a⌉ + 1 grams in global (df, gram)
    * order; τ' = 17999/20000 is the exact lower edge rhalfup(·,4) ≥
    * 0.9 admits), while the container side indexes its FULL gram
    * set. df-ascending prefix order keeps the index probe on rare
    * grams — most shingles are near-unique, so candidates ∝ true
    * shared-text pairs, never n². The verify step touches only
    * deduped candidates with one array_intersect each.
    */
  def d27_containment: Q = (s, d) => containmentPairs(Tables.documents(s, d))

  private[graft] val ContainT = 0.9

  private[graft] def containmentPairs(documents: DataFrame, n: Int = 8): DataFrame = {
    import graft.functions.TextHashFunctions.word_shingles
    val toks = array_remove(split(lower(col("text")), "\\s+"), "")
    val base = graft.CacheScope.persisted(
      documents
        .select(col("doc_id"), col("lang"), toks.as("toks"))
        .filter(size(col("toks")) >= n) // sub-n docs have no shingle
        .select(col("doc_id"), col("lang"),
          array_distinct(word_shingles(col("toks"), n)).as("grams"))
    ) // gram explode + sizes + both verify joins
    val g = base.select(col("doc_id"), col("lang"),
      explode(col("grams")).as("gram"))
    val dfc = g.groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("df"))
    // same one-agg prefix build as d04: (df, gram) struct sort, then a
    // map-side slice — no window over the gram stream
    val perDoc = g.join(dfc, Seq("lang", "gram"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_list(struct(col("df"), col("gram"))))
        .as("ord_grams"))
      .withColumn("n", size(col("ord_grams")).cast(LongType))
      // prefix size n − ⌈τ'·n⌉ + 1, τ' = 17999/20000 (see scaladoc)
      .withColumn("p",
        (col("n") - floor((col("n") * 17999L + 19999L) / 20000L) + 1L)
          .cast(IntegerType))
    val prefix = perDoc
      .select(col("lang"), col("doc_id").as("id_a"),
        explode(slice(col("ord_grams"), lit(1), col("p"))).as("pt"))
      .select(col("lang"), col("pt.gram").as("gram"), col("id_a"))
    val index = g.select(col("lang"), col("gram"), col("doc_id").as("id_b"))
    val sizes = base.select(col("doc_id"), size(col("grams")).cast(LongType).as("n"))
    val cand = prefix.join(index, Seq("lang", "gram"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .filter(col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("id_a") < col("id_b")))
    cand
      .join(base.select(col("doc_id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .withColumn("containment",
        Tables.rhalfup(
          size(array_intersect(col("grams_a"), col("grams_b"))) / col("n_a"), 4))
      .filter(col("containment") >= ContainT)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d28 — dup-cluster cohesion audit: per d09 cluster, node/edge
    * counts, edge density 2E/(n(n−1)), clique flag, and a chain-risk
    * flag (density < 0.5 with ≥3 docs). Transitive clustering has one
    * classic failure mode — CHAINING: A∼B∼C collapses A with C even
    * when sim(A,C) is far below threshold. A clique is a true dup
    * family (safe to keep one canonical doc); a sparse chain needs
    * review before collapsing. This is the audit that decides.
    *
    * Scale: rides d09's two-tier CC (pairs persisted once, shared by
    * the CC loop and the edge count); the audit itself is two
    * cluster-keyed aggs + one broadcast-sized join — cluster count ≪
    * doc count.
    */
  def d28_cluster_density: Q = (s, d) =>
    clusterDensity(graft.CacheScope.persisted(
      ngramJaccardPairs(Tables.documents(s, d))
        .select(col("id_a"), col("id_b"))))

  private[graft] def clusterDensity(pairs: DataFrame): DataFrame = {
    val clusters = dupClusters(pairs)
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    // both endpoints of every pair share a cluster by construction —
    // keying the edge count by id_a's cluster counts each edge once
    val edges = pairs
      .join(clusters.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("cluster_id"))
      .withColumn("density", Tables.rhalfup(
        (col("n_edges") * 2) / (col("n_docs") * (col("n_docs") - 1)), 6))
      .withColumn("is_clique",
        col("n_edges") * 2 === col("n_docs") * (col("n_docs") - 1))
      .withColumn("chain_risk",
        col("density") < 0.5 && col("n_docs") >= 3)
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        col("density"), col("is_clique"), col("chain_risk"))
      .orderBy(col("cluster_id"))
  }

  /** d29 — canonical-record selection: once near-duplicate clusters
    * exist (d09), a curation pipeline keeps ONE representative per
    * cluster. The keep rule is the d08 quality score (length ×
    * punctuation-cleanliness, exact integer ratios rounded half-up)
    * with min doc_id as the tiebreak — "keep the best copy",
    * superseding d09's min-id convention and cheaper than d25's
    * centrality when ranks aren't already standing. Docs in no
    * cluster are their own canonical (singletons), so the output is a
    * total doc_id → canonical_id map over the corpus — the join table
    * every downstream consumer rewrites references through.
    *
    * Scale: the cluster map is pair-derived (≪ corpus); the corpus
    * left-joins it on doc_id and the argmax is a PARTIAL+FINAL
    * struct-max aggregate — max(struct(quality, −doc_id)) picks the
    * best-quality/min-id member with map-side combine, so even a
    * pathological million-doc duplicate cluster never lands whole on
    * one task (the window formulation would). The cluster→canonical
    * map is cluster-count-sized and broadcasts back. Two shuffles
    * beyond the shared pair pipeline.
    */
  def d29_canonicalize: Q = (s, d) =>
    canonicalize(Tables.documents(s, d))

  private[graft] def canonicalize(docs: DataFrame): DataFrame = {
    val clusters = dupClusters(
      ngramJaccardPairs(docs).select(col("id_a"), col("id_b")))
    val nTok = size(split(col("text"), "\\s+"))
    val nPunct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
    // the d08 quality formula verbatim (same integer inputs → same
    // IEEE ops in both engines; rhalfup, not round — see Tables;
    // try_divide so an empty-text row NULLs instead of ANSI-throwing,
    // mirroring DuckDB's x/0)
    val scored = docs.select(col("doc_id"),
      Tables.rhalfup(least(nTok.cast(DoubleType) / 50.0, lit(1.0)) *
        (lit(1.0) - try_divide(nPunct.cast(DoubleType),
          length(col("text")).cast(DoubleType))), 4)
        .as("quality_score"))
    val withCl = scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    // argmax by (quality DESC, doc_id ASC) as a combinable struct max:
    // NULL quality (dirty row) folds to -1 < every real score ∈ [0, 1]
    val canon = withCl.groupBy(col("cluster_id"))
      .agg(max(struct(coalesce(col("quality_score"), lit(-1.0)).as("q"),
        (-col("doc_id")).as("nd"))).as("m"))
      .select(col("cluster_id"), (-col("m.nd")).as("canonical_id"))
    withCl.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"),
        col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** d31 — per-source corpus health report: the one-row-per-source
    * dashboard a data team reads before a training run. For each
    * `source`: how many docs, how many are exact duplicates of
    * something in the corpus (d01's content hash, corpus-wide), how
    * many sit in a near-duplicate pair (d04's verified pairs), how
    * many contain at least one boilerplate line (d26's ≥ 3-distinct-
    * docs rule), and the mean d08 quality in exact integer
    * 1e-4 units (sum of per-doc quality micros, floor-divided — no
    * float accumulation, so the report is oracle-exact).
    *
    * Scale: every signal is an existing scale-shaped pipeline (hash
    * agg / prefix-filtered pairs / digest-keyed line agg) reduced to
    * a doc_id set; the report joins those sets back to the corpus as
    * broadcast-sized sides and aggregates once on `source` (partial+
    * final — source count is tiny). Nothing quadratic is added on
    * top of the d04 pair cost.
    */
  def d31_corpus_report: Q = (s, d) => corpusReport(Tables.documents(s, d))

  private[graft] def corpusReport(docs: DataFrame): DataFrame = {
    val base = graft.CacheScope.persisted(
      docs.select(col("doc_id"), col("source"), col("text"),
        md5(col("text")).as("fp")))
    val dupHash = base.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("fp"))
    val exactIds = base.join(dupHash, Seq("fp")).select(col("doc_id"))
    val pairs = ngramJaccardPairs(docs)
    val nearIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // persisted with the digest precomputed: the boilerplate df-agg and
    // the flag-back join are two consumers — one line-chunking+md5 pass,
    // not two (same discipline as d24's line stream)
    val lines = graft.CacheScope.persisted(
      docLines(docs, 10).select(col("doc_id"), md5(col("line")).as("lh")))
    val boiler = lines.groupBy(col("lh"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 3).select(col("lh"))
    val boilIds = lines.join(boiler, Seq("lh"))
      .select(col("doc_id")).distinct()
    val nTok = size(split(col("text"), "\\s+"))
    val nPunct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
    val q4 = floor((least(nTok.cast(DoubleType) / 50.0, lit(1.0)) *
      (lit(1.0) - try_divide(nPunct.cast(DoubleType),
        length(col("text")).cast(DoubleType)))) * 1e4 + 0.5)
      .cast(LongType)
    base.select(col("doc_id"), col("source"), q4.as("q4"))
      .join(exactIds.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(1L)), Seq("doc_id"), "left")
      .join(boilIds.withColumn("is_boiler", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_exact"), lit(0L))).as("exact_dup_docs"),
        sum(coalesce(col("is_near"), lit(0L))).as("neardup_docs"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("boiler_docs"),
        // sum(q4)/count(*): a NULL q4 (empty text → try_divide NULL)
        // intentionally counts as ZERO quality in the source mean —
        // dirty rows drag the health score down rather than vanishing
        // from it (and SUM-skips-NULL matches DuckDB exactly)
        call_function("div", sum(col("q4")), count(lit(1)))
          .as("mean_quality_q4"))
      .orderBy(col("source"))
  }

  /** d25 — duplicate-graph centrality: PageRank over the d04 near-dup
    * graph, in EXACT integer micro-units so the iteration is
    * bit-identical in any partition order and in the oracle's chained
    * SQL rounds. Each of 5 damped rounds: rank'(v) = 0.15 +
    * Σ_{u∼v} floor(rank(u)·17 / (20·deg(u))) — 17/20 = 0.85 damping
    * with floor division both engines share. Use: pick the canonical
    * doc of a duplicate neighborhood by centrality instead of d09's
    * min-id rule (the best-connected copy is usually the cleanest).
    *
    * Scale: the degree-annotated symmetric edge list is built once
    * (persisted — one consumer per round); each round exchanges only
    * the node-sized rank table. The loop cuts lineage every SECOND
    * round: the round-12 probe timed the three disciplines at sf0.1
    * (best-of-2, warm JVM) — fully-lazy 5-round chain 11.1 s,
    * cut-every-round 8.8 s, cut-every-2-rounds 8.6 s (the pair
    * producer alone is 2.9 s) — the deep lazy plan costs MORE than
    * the per-cut materialization here, and halving the cut count
    * keeps the win without paying 5 materializations.
    */
  def d25_pair_rank: Q = (s, d) =>
    pairRank(ngramJaccardPairs(Tables.documents(s, d)))

  private[graft] def pairRank(pairs: DataFrame, rounds: Int = 5): DataFrame = {
    // eager cut at entry: sym references `pairs` twice and deg/ed each
    // evaluate sym — uncut, the d04 pair pipeline (the dominant stage
    // cost) would run once per materialization instead of once total
    val pc = graft.CacheScope.checkpointed(
      pairs.select(col("id_a"), col("id_b")))
    val sym = pc.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pc.select(col("id_b").as("src"), col("id_a").as("dst")))
    // deg doubles as the node table (sources of the symmetric edge
    // list = every node, one row each) — the rank init and the final
    // deg join read it instead of running E-row distincts
    // eager cut: deg is referenced by the rank init, the edge table,
    // and the final join — uncut, each action re-analyzes the d04 pair
    // pipeline's tree before cache substitution (r13 probe)
    val deg = graft.CacheScope.checkpointed(
      sym.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // the standard PageRank layout: edges live hash-partitioned on src
    // for the whole loop, so each round exchanges only the node-sized
    // rank table (join probe + groupBy(dst)) — the E-row edge list
    // never re-shuffles after this one repartition. shuffle_hash on
    // the rank side keeps the per-round join sort-free (SMJ would
    // re-sort the cached edges every round).
    val ed = graft.CacheScope.checkpointed(
      sym.join(deg, Seq("src")).repartition(col("src")))
    var ranks = deg.select(col("src").as("node"))
      .withColumn("rk", lit(1000000L))
    for (r <- 1 to rounds) {
      ranks = ed.join(ranks.hint("shuffle_hash"), ed("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg((lit(150000L) +
          sum(call_function("div", col("rk") * 17L, col("deg") * 20L)))
          .as("rk"))
        .select(col("dst").as("node"), col("rk"))
      // two-round batched lineage cuts — measured fastest (see the
      // scaladoc); the final round stays lazy for the consumer join
      if (r % 2 == 0 && r < rounds)
        ranks = graft.CacheScope.checkpointed(ranks)
    }
    ranks.join(deg, ranks("node") === deg("src"))
      .select(col("node").as("doc_id"), col("deg"),
        col("rk").as("rank_micro"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "d25_pair_rank" -> d25_pair_rank,
    "d24_line_dedup" -> d24_line_dedup,
    "d26_boilerplate" -> d26_boilerplate,
    "d27_containment" -> d27_containment,
    "d28_cluster_density" -> d28_cluster_density,
    "d13_lsh_recall" -> d13_lsh_recall,
    "d07_snapshot_diff" -> d07_snapshot_diff,
    "d01_dedup_exact" -> d01_dedup_exact,
    "d06_source_similarity" -> d06_source_similarity,
    "d02_minhash_lsh" -> d02_minhash_lsh,
    "d03_simhash" -> d03_simhash,
    "d04_ngram_jaccard" -> d04_ngram_jaccard,
    "d05_embedding_neardup" -> d05_embedding_neardup,
    "d09_dup_clusters" -> d09_dup_clusters,
    "d15_semantic_dedup" -> d15_semantic_dedup,
    "d16_incremental_neardup" -> d16_incremental_neardup,
    "d17_multimodal_clusters" -> d17_multimodal_clusters,
    "d18_source_overlap" -> d18_source_overlap,
    "d19_repeated_ngrams" -> d19_repeated_ngrams,
    "d21_crossmodal_cc" -> d21_crossmodal_cc,
    "d22_substring_pairs" -> d22_substring_pairs,
    "d23_gram_novelty" -> d23_gram_novelty,
    "d29_canonicalize" -> d29_canonicalize,
    "d30_span_scrub" -> d30_span_scrub,
    "d31_corpus_report" -> d31_corpus_report,
    "d32_screen_core" -> d32_screen_core,
    "d33_leakage_split" -> d33_leakage_split,
  )

  /** The d04 pair query without its final ORDER BY, parameterized on
    * the source relation — one source for the d04 oracle, the d09
    * oracle's `pairs` CTE, and p01's dedup stage (a drifted copy
    * would make dependent oracles disagree with the pair oracle). */
  private[operators] def d04OracleBodyOn(rel: String): String =
    d04OracleBody.replace("FROM documents", s"FROM $rel")

  private val d04OracleBody: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, source, lang,
      |    unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |  FROM documents
      |), tok2 AS (SELECT * FROM tok WHERE length(tok) > 0),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM tok2 a JOIN tok2 b
      |    ON a.source = b.source AND a.lang = b.lang AND a.tok = b.tok
      |    AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_tok FROM tok2 GROUP BY doc_id)
      |SELECT id_a, id_b,
      |  floor(CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter)
      |    * 1e4 + 0.5) / 1e4 AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE floor(CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter)
      |  * 1e4 + 0.5) / 1e4 >= 0.8""".stripMargin

  /** One damped integer-PageRank round as SQL, reading ranks from CTE
    * r{i-1} — the exact mirror of the pairRank loop body. */
  private def rankRoundCte(i: Int): String =
    s"""r$i AS (
       |  SELECT ed.dst AS node,
       |    CAST(150000 + SUM((r.rk * 17) // (ed.deg * 20)) AS BIGINT) AS rk
       |  FROM ed JOIN r${i - 1} r ON r.node = ed.src
       |  GROUP BY ed.dst)""".stripMargin

  /** The embedding width every committed oracle's plane literals were
    * generated at. The engine reads `spark.graft.embedding.dim`; the
    * oracle SQL is static text, so the two can only agree at this
    * value — LSH-mirror suite entries assert the config matches it
    * (a silent mismatch would produce an entirely different plane
    * matrix on one side and a value-diverge instead of a loud error). */
  private[graft] val OracleEmbeddingDim = 64

  /** d15's oracle, BOTH tiers of [[scopedDomination]]: blocks ≤
    * `maxBlock` members get the exact pair join (at the default
    * [[D05MaxExactBlock]] that's the only tier that fires at
    * driver-checked SFs, where this oracle is byte-equivalent to the
    * old exact-only one), and larger blocks get a bit-exact SQL
    * mirror of the hyperplane-LSH route — the referee the 25× parity
    * run lacked. `maxBlock` is a parameter so the forced-tier harness
    * ([[graft.DumpLshForced]]) builds its ceiling-10 oracle from the
    * same source instead of patching the SQL text. Exactness of the
    * mirror:
    *  - the plane matrix is read from the ENGINE's own
    *    [[graft.functions.VectorOps.planesFor]] (same seed, same
    *    cache) and embedded as double literals — `Double.toString`
    *    emits shortest-round-trip text, so DuckDB parses back the
    *    identical doubles;
    *  - `list_dot_product` accumulates left-to-right over doubles,
    *    the same IEEE chain as the kernel's ascending-d loop, so each
    *    plane dot (and hence each sign bit) is bit-identical;
    *  - probes are the bucket plus its [[LshPlanes]] hamming-1 flips,
    *    mirrored with integer xor. Plane literals are generated at
    *    [[OracleEmbeddingDim]]; the suite entry asserts the engine
    *    config matches. */
  /** The engine's [[lshSignature]] over column `embedding` as a DuckDB
    * expression — plane literals from the ENGINE's own
    * [[graft.functions.VectorOps.planesFor]] (Double.toString
    * round-trips, list_dot_product chains left-to-right like the
    * kernel), so each sign bit is bit-identical. One source shared by
    * every LSH-tier oracle (d15, the blockedKnn mirror, the
    * community-domination mirror) so the mirrors cannot drift. */
  private[graft] def lshSigSqlExpr: String = {
    val dim = OracleEmbeddingDim
    val planes = graft.functions.VectorOps.planesFor(42L, 1, LshPlanes, dim)
    def planeLit(b: Int): String =
      (0 until dim).map(d => planes(b * dim + d).toString)
        .mkString("[", ", ", "]")
    (0 until LshPlanes).map(b =>
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), " +
        s"${planeLit(b)}) >= 0 THEN ${1 << b} ELSE 0 END)")
      .mkString("\n    + ")
  }

  /** The engine's [[lshProbeArray]] (bucket + hamming-1 flips) over
    * column `sig`, as a DuckDB list expression. */
  private[graft] def lshProbeListSql: String =
    ("sig" +: (0 until LshPlanes).map(p => s"xor(sig, ${1 << p})"))
      .mkString("[", ", ", "]")

  /** Two-tier CTE mirror of [[blockedKnn]] at `k`: exact pairs for
    * label blocks ≤ `maxBlock`, the d15-proven hyperplane route above
    * — the referee the 25× runs lacked for d05/s14 (and, via the s15
    * chain, everything built on the kNN graph). Ends at
    * `knn2t(vec_id, nn_id, cos, rk)`; pre-stripped, no margin pipes.
    * At oracle-checked SFs every block is under the ceiling, so the
    * big tier is empty and the text is value-equivalent to the old
    * exact-only mirror. */
  private[graft] def blockedKnnOracleCtes(k: Int, maxBlock: Long): String = {
    val cosAB = "round(list_cosine_similarity(CAST(a.embedding AS " +
      "DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4)"
    s"""bsized AS MATERIALIZED (
       |  SELECT e.vec_id, e.label, e.embedding, c.n AS __bn
       |  FROM embeddings e JOIN (
       |    SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label) c
       |    ON e.label = c.label),
       |knn_small AS (
       |  SELECT vec_id, nn_id, cos, rk FROM (
       |    SELECT a.vec_id, b.vec_id AS nn_id, $cosAB AS cos,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY $cosAB DESC, b.vec_id) AS rk
       |    FROM bsized a JOIN bsized b
       |      ON a.label = b.label AND a.vec_id <> b.vec_id
       |    WHERE a.__bn <= $maxBlock) t
       |  WHERE rk <= $k),
       |bsig AS MATERIALIZED (
       |  SELECT vec_id, label, embedding,
       |    $lshSigSqlExpr AS sig
       |  FROM bsized WHERE __bn > $maxBlock),
       |bprobe AS (
       |  SELECT vec_id, label, embedding,
       |    unnest($lshProbeListSql) AS bucket
       |  FROM bsig),
       |knn_big AS (
       |  SELECT vec_id, nn_id, cos, rk FROM (
       |    SELECT a.vec_id, b.vec_id AS nn_id, $cosAB AS cos,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY $cosAB DESC, b.vec_id) AS rk
       |    FROM bprobe a JOIN bsig b
       |      ON b.label = a.label AND b.sig = a.bucket
       |      AND b.vec_id <> a.vec_id) t
       |  WHERE rk <= $k),
       |knn2t AS MATERIALIZED (
       |  SELECT * FROM knn_small UNION ALL SELECT * FROM knn_big)"""
      .stripMargin
  }

  private[graft] def d15OracleSqlFor(maxBlock: Long): String = {
    val sigExpr = lshSigSqlExpr
    val probeList = lshProbeListSql
    s"""WITH sized AS MATERIALIZED (
       |  SELECT e.vec_id, e.label, e.embedding, c.n AS __n
       |  FROM embeddings e JOIN (
       |    SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label) c
       |    ON e.label IS NOT DISTINCT FROM c.label),
       |dom_small AS (
       |  SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dominated_by
       |  FROM sized a JOIN sized b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE a.__n <= $maxBlock
       |    AND round(list_cosine_similarity(
       |      CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4)
       |    >= $D15Tau
       |  GROUP BY b.vec_id),
       |sigs AS MATERIALIZED (
       |  SELECT vec_id, label, embedding,
       |    $sigExpr AS sig
       |  FROM sized WHERE __n > $maxBlock),
       |probes AS (
       |  SELECT vec_id, label, embedding,
       |    unnest($probeList) AS bucket
       |  FROM sigs),
       |dom_big AS (
       |  SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dominated_by
       |  FROM sigs a JOIN probes b
       |    ON a.label = b.label AND a.sig = b.bucket AND a.vec_id < b.vec_id
       |  WHERE round(list_cosine_similarity(
       |      CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4)
       |    >= $D15Tau
       |  GROUP BY b.vec_id),
       |dom AS (
       |  SELECT vec_id, MIN(dominated_by) AS dominated_by FROM (
       |    SELECT * FROM dom_small UNION ALL SELECT * FROM dom_big)
       |  GROUP BY vec_id)
       |SELECT e.vec_id, e.label, dom.dominated_by,
       |  dom.dominated_by IS NULL AS kept
       |FROM embeddings e LEFT JOIN dom USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin
  }

  /** The [[d02_minhash_lsh]] pipeline as DuckDB CTEs — shingle sets,
    * 64 md5-keyed slot minima, banded keys, candidates, exact verify —
    * ending at `d02v(id_a, id_b, jaccard)` (verified, UNFILTERED by
    * threshold so consumers choose). Pre-stripped (no WITH, no margin
    * pipes); the shingle CTE is d32's proven mirror text. Shared by
    * the d02 and d13 oracles so the sketch mirrors cannot drift. */
  private[graft] def d02OracleCtes: String =
    s"""d02t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS l
       |  FROM documents),
       |d02ds AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
       |      ELSE list_transform(
       |        list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)]),
       |        p -> p[1]||' '||p[2]||' '||p[3]) END) AS s
       |  FROM d02t),
       |d02h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(g), 1, 12))::BIGINT AS h1,
       |    ('0x' || substr(md5(g), 17, 12))::BIGINT AS h2
       |  FROM (SELECT doc_id, unnest(s) AS g FROM d02ds)),
       |d02slots AS MATERIALIZED (
       |  SELECT doc_id, i, MIN(h1 + i * h2) AS mh
       |  FROM d02h
       |  CROSS JOIN (SELECT unnest(generate_series(0,
       |    ${D02Bands * D02Rows - 1})) AS i)
       |  GROUP BY doc_id, i),
       |d02bands AS (
       |  SELECT doc_id, md5((i // $D02Rows)::VARCHAR || ':' ||
       |      string_agg(mh::VARCHAR, ',' ORDER BY i)) AS bh
       |  FROM d02slots GROUP BY doc_id, i // $D02Rows),
       |d02cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM d02bands a JOIN d02bands b
       |    ON a.bh = b.bh AND a.doc_id < b.doc_id),
       |d02v AS (
       |  SELECT c.id_a, c.id_b,
       |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |      (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 4)
       |      AS jaccard
       |  FROM d02cand c
       |  JOIN d02ds x ON x.doc_id = c.id_a
       |  JOIN d02ds y ON y.doc_id = c.id_b)""".stripMargin

  private[graft] def d02OracleSql: String =
    s"""WITH $d02OracleCtes
       |SELECT id_a, id_b, jaccard FROM d02v
       |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** [[d13_lsh_recall]]'s oracle: the md5-bucketed sample, brute
    * Jaccard truth over it (the size-ratio prefilter is lossless, so
    * the mirror omits it), the d02 sketch chain as the found side,
    * and the same recall arithmetic. */
  private[graft] def d13OracleSql: String =
    s"""WITH $d02OracleCtes,
       |d13k AS (
       |  SELECT GREATEST(1, COUNT(*) // $D13TargetSample) AS k
       |  FROM documents),
       |d13s AS MATERIALIZED (
       |  SELECT ds.doc_id, ds.s FROM d02ds ds, d13k
       |  WHERE ('0x' || substr(md5(ds.doc_id::VARCHAR), 1, 15))::BIGINT
       |    % d13k.k = 0),
       |d13truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM d13s a JOIN d13s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
       |d13found AS (
       |  SELECT id_a, id_b FROM d02v WHERE jaccard >= 0.5)
       |SELECT COUNT(*) AS n_true_pairs,
       |  COUNT(f.id_a) AS n_found,
       |  CASE WHEN COUNT(*) = 0 THEN CAST(1.0 AS DOUBLE)
       |    ELSE round(CAST(COUNT(f.id_a) AS DOUBLE) / COUNT(*), 4)
       |  END AS recall
       |FROM d13truth t LEFT JOIN d13found f
       |  ON f.id_a = t.id_a AND f.id_b = t.id_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "d02_minhash_lsh" -> d02OracleSql,
    "d13_lsh_recall" -> d13OracleSql,
    "d32_screen_core" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS l
        |  FROM documents),
        |ds AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |      ELSE list_transform(
        |        list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)]),
        |        p -> p[1]||' '||p[2]||' '||p[3]) END) AS s
        |  FROM t),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT d.doc_id, c.doc_id AS corpus_id
        |  FROM (SELECT doc_id, unnest(s) AS g FROM ds WHERE doc_id % 17 = 0) d
        |  JOIN (SELECT doc_id, unnest(s) AS g FROM ds WHERE doc_id % 17 <> 0) c
        |    ON d.g = c.g),
        |ver AS (
        |  SELECT cand.doc_id, COUNT(*) AS n_matches
        |  FROM cand
        |  JOIN ds a ON a.doc_id = cand.doc_id
        |  JOIN ds b ON b.doc_id = cand.corpus_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |  GROUP BY cand.doc_id)
        |SELECT dd.doc_id, COALESCE(v.n_matches, 0) AS n_matches,
        |  COALESCE(v.n_matches, 0) = 0 AS accepted
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 = 0) dd
        |LEFT JOIN ver v ON v.doc_id = dd.doc_id
        |ORDER BY dd.doc_id""".stripMargin,
    "d25_pair_rank" ->
      // MATERIALIZED: pairs is referenced twice and ed once per round —
      // inlining would re-run the token self-join up to 6 times, which
      // exhausts DuckDB's temp disk at 10x-scale corpora
      s"""WITH pairs AS MATERIALIZED (
         |$d04OracleBody
         |), e AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs
         |), deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |ed AS MATERIALIZED (
         |  SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
         |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rk FROM deg),
         |${(1 to 5).map(rankRoundCte).mkString(",\n")}
         |SELECT r5.node AS doc_id, d.deg, r5.rk AS rank_micro
         |FROM r5 JOIN deg d ON d.src = r5.node
         |ORDER BY doc_id""".stripMargin,
    "d28_cluster_density" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$d04OracleBody
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
         |), cl AS (
         |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
         |), sizes AS (
         |  SELECT cluster_id, COUNT(*) AS n_docs FROM cl
         |  GROUP BY 1 HAVING COUNT(*) >= 2
         |), ec AS (
         |  SELECT c.cluster_id, COUNT(*) AS n_edges
         |  FROM pairs p JOIN cl c ON c.doc_id = p.id_a GROUP BY 1)
         |SELECT s.cluster_id, s.n_docs, e.n_edges,
         |  floor(CAST(2 * e.n_edges AS DOUBLE) / (s.n_docs * (s.n_docs - 1))
         |    * 1e6 + 0.5) / 1e6 AS density,
         |  2 * e.n_edges = s.n_docs * (s.n_docs - 1) AS is_clique,
         |  (floor(CAST(2 * e.n_edges AS DOUBLE) / (s.n_docs * (s.n_docs - 1))
         |    * 1e6 + 0.5) / 1e6 < 0.5 AND s.n_docs >= 3) AS chain_risk
         |FROM sizes s JOIN ec e ON e.cluster_id = s.cluster_id
         |ORDER BY s.cluster_id""".stripMargin,
    "d27_containment" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS l
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, lang,
        |    array_to_string(l[i:i+7], ' ') AS gram
        |  FROM t, unnest(generate_series(1, len(l) - 7)) AS s(i)
        |  WHERE len(l) >= 8),
        |df AS (SELECT lang, gram, COUNT(*) AS df FROM g GROUP BY 1, 2),
        |n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
        |ord AS (
        |  SELECT t.doc_id, t.lang, t.gram, n.n,
        |    ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.gram)
        |      AS rn
        |  FROM g t JOIN df d ON d.lang = t.lang AND d.gram = t.gram
        |  JOIN n ON n.doc_id = t.doc_id),
        |pref AS (
        |  SELECT * FROM ord
        |  WHERE rn <= n - ((17999 * n + 19999) // 20000) + 1),
        |cand AS (
        |  SELECT DISTINCT p.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pref p JOIN g b ON b.lang = p.lang AND b.gram = p.gram
        |  WHERE p.doc_id <> b.doc_id),
        |sized AS (
        |  SELECT c.id_a, c.id_b, na.n AS n_a, nb.n AS n_b
        |  FROM cand c JOIN n na ON na.doc_id = c.id_a
        |  JOIN n nb ON nb.doc_id = c.id_b
        |  WHERE na.n < nb.n OR (na.n = nb.n AND c.id_a < c.id_b)),
        |o AS (
        |  SELECT s.id_a, s.id_b, s.n_a, s.n_b, COUNT(*) AS ov
        |  FROM sized s JOIN g a ON a.doc_id = s.id_a
        |  JOIN g b ON b.doc_id = s.id_b AND b.gram = a.gram
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, n_a, n_b,
        |  floor(CAST(ov AS DOUBLE) / n_a * 1e4 + 0.5) / 1e4 AS containment
        |FROM o
        |WHERE floor(CAST(ov AS DOUBLE) / n_a * 1e4 + 0.5) / 1e4 >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "d26_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '') AS l
        |  FROM documents),
        |ix AS (
        |  SELECT doc_id, l, unnest(generate_series(0,
        |    greatest(CAST(ceil(len(l) / 10.0) AS INT), 1) - 1)) AS i
        |  FROM t),
        |ln AS (
        |  SELECT doc_id, i AS line_no,
        |    array_to_string(l[(i*10 + 1):least((i+1)*10, len(l))], ' ') AS line
        |  FROM ix),
        |boiler AS (
        |  SELECT md5(line) AS h FROM ln
        |  GROUP BY md5(line) HAVING COUNT(DISTINCT doc_id) >= 3),
        |k AS (
        |  SELECT doc_id, line_no, line,
        |    md5(line) NOT IN (SELECT h FROM boiler) AS keep
        |  FROM ln)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(line, ' ' ORDER BY line_no)
        |    FILTER (WHERE keep), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d24_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '') AS l
        |  FROM documents),
        |ix AS (
        |  SELECT doc_id, l, unnest(generate_series(0,
        |    greatest(CAST(ceil(len(l) / 10.0) AS INT), 1) - 1)) AS i
        |  FROM t),
        |ln AS (
        |  SELECT doc_id, i AS line_no,
        |    array_to_string(l[(i*10 + 1):least((i+1)*10, len(l))], ' ') AS line
        |  FROM ix),
        |k AS (
        |  SELECT doc_id, line_no, line,
        |    ROW_NUMBER() OVER (PARTITION BY md5(line)
        |      ORDER BY doc_id, line_no) = 1 AS keep
        |  FROM ln)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(line, ' ' ORDER BY line_no)
        |    FILTER (WHERE keep), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d22_substring_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> t <> '') AS l
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l
        |  FROM toks WHERE len(l) >= 8),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    md5(l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3]||' '||l[i+4]
        |      ||' '||l[i+5]||' '||l[i+6]||' '||l[i+7]) AS gh
        |  FROM pos),
        |elig AS (
        |  SELECT gh FROM g GROUP BY gh
        |  HAVING COUNT(*) >= 2 AND COUNT(*) <=
        |    greatest(20.0, (SELECT COUNT(*) FROM documents) / 250.0)),
        |j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        |  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
        |  WHERE a.gh IN (SELECT gh FROM elig)),
        |isl AS (
        |  SELECT id_a, id_b, pa - pb AS diag,
        |    pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pa - pb
        |      ORDER BY pa) AS grp
        |  FROM j),
        |runs AS (
        |  SELECT id_a, id_b, COUNT(*) AS run
        |  FROM isl GROUP BY id_a, id_b, diag, grp)
        |SELECT id_a, id_b, MAX(run) + 7 AS max_run_tokens,
        |  CAST(SUM(run) AS BIGINT) AS n_shared_grams
        |FROM runs GROUP BY id_a, id_b
        |HAVING MAX(run) + 7 >= 9
        |ORDER BY id_a, id_b""".stripMargin,
    "d23_gram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> t <> '') AS l
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_zip(l[1:len(l)-7], l[2:len(l)-6], l[3:len(l)-5],
        |             l[4:len(l)-4], l[5:len(l)-3], l[6:len(l)-2],
        |             l[7:len(l)-1], l[8:len(l)]),
        |    p -> md5(p[1]||' '||p[2]||' '||p[3]||' '||p[4]||' '||p[5]
        |      ||' '||p[6]||' '||p[7]||' '||p[8])))) AS gh
        |  FROM toks WHERE len(l) >= 8),
        |standing AS (SELECT DISTINCT gh FROM g WHERE doc_id % 7 <> 3)
        |SELECT b.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN s.gh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  floor(CAST(SUM(CASE WHEN s.gh IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS novelty
        |FROM g b LEFT JOIN standing s ON b.gh = s.gh
        |WHERE b.doc_id % 7 = 3
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "d19_repeated_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> t <> '') AS l
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_zip(l[1:len(l)-7], l[2:len(l)-6], l[3:len(l)-5],
        |             l[4:len(l)-4], l[5:len(l)-3], l[6:len(l)-2],
        |             l[7:len(l)-1], l[8:len(l)]),
        |    p -> p[1]||' '||p[2]||' '||p[3]||' '||p[4]||' '||p[5]
        |      ||' '||p[6]||' '||p[7]||' '||p[8]))) AS gram
        |  FROM toks WHERE len(l) >= 8)
        |SELECT md5(gram) AS gram_hash, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS first_doc
        |FROM g GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY gram_hash""".stripMargin,
    "d18_source_overlap" ->
      """WITH fp AS (
        |  SELECT DISTINCT source,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |  FROM documents),
        |c AS (SELECT source, COUNT(*) AS n FROM fp GROUP BY source),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT src_a, src_b, n_shared,
        |  floor(CAST(n_shared AS DOUBLE) / (ca.n + cb.n - n_shared)
        |    * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM sh
        |JOIN c ca ON ca.source = sh.src_a
        |JOIN c cb ON cb.source = sh.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "d07_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS h_a FROM documents
        |  WHERE doc_id % 10 <> 9
        |), b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END)
        |      AS h_b
        |  FROM documents WHERE doc_id % 10 <> 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.h_a <> b.h_b THEN 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.h_a <> b.h_b THEN 'changed' END IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    "d01_dedup_exact" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
        |  MIN(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    "d04_ngram_jaccard" -> (d04OracleBody + "\nORDER BY id_a, id_b"),
    "d09_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$d04OracleBody
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
         |)
         |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    "d33_leakage_split" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$d04OracleBody
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
         |), cl AS (
         |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
         |), base AS (
         |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS fold_key
         |  FROM documents d LEFT JOIN cl USING (doc_id)
         |)
         |SELECT doc_id, fold_key,
         |  CASE WHEN fold_key % 2147483648 * 2654435761 % 4294967296
         |      % 10 < 8 THEN 'train'
         |    WHEN fold_key % 2147483648 * 2654435761 % 4294967296
         |      % 10 = 8 THEN 'valid'
         |    ELSE 'test' END AS split
         |FROM base ORDER BY doc_id""".stripMargin,
    "d29_canonicalize" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$d04OracleBody
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
         |), cl AS (
         |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
         |), scored AS (
         |  SELECT doc_id,
         |    floor(least(CAST(len(regexp_split_to_array(text, '\\s+'))
         |        AS DOUBLE) / 50.0, 1.0) *
         |      (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]'))
         |        AS DOUBLE) / length(text)) * 1e4 + 0.5) / 1e4
         |      AS quality_score
         |  FROM documents
         |), base AS (
         |  SELECT s.doc_id, COALESCE(cl.cluster_id, s.doc_id) AS cluster_id,
         |    s.quality_score
         |  FROM scored s LEFT JOIN cl USING (doc_id)
         |), canon AS (
         |  SELECT cluster_id, doc_id AS canonical_id FROM (
         |    SELECT cluster_id, doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY cluster_id
         |      ORDER BY quality_score DESC, doc_id) AS rn
         |    FROM base) WHERE rn = 1
         |)
         |SELECT b.doc_id, b.cluster_id, c.canonical_id,
         |  b.doc_id = c.canonical_id AS is_canonical, b.quality_score
         |FROM base b JOIN canon c USING (cluster_id)
         |ORDER BY b.doc_id""".stripMargin,
    "d31_corpus_report" ->
      // MATERIALIZED like d25's: `near` scans pairs twice and the
      // inlined token self-join spills DuckDB's temp disk at 10x
      s"""WITH pairs AS MATERIALIZED (
         |$d04OracleBody
         |), near AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT id_a AS doc_id FROM pairs
         |    UNION SELECT id_b FROM pairs) u
         |), fp AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |dup AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) >= 2),
         |exact AS (SELECT doc_id FROM fp JOIN dup USING (h)),
         |t AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |    x -> x <> '') AS l
         |  FROM documents),
         |ix AS (
         |  SELECT doc_id, l, unnest(generate_series(0,
         |    greatest(CAST(ceil(len(l) / 10.0) AS INT), 1) - 1)) AS i
         |  FROM t),
         |ln AS (
         |  SELECT doc_id, i AS line_no,
         |    array_to_string(l[(i*10 + 1):least((i+1)*10, len(l))], ' ') AS line
         |  FROM ix),
         |boiler AS (
         |  SELECT md5(line) AS h2 FROM ln
         |  GROUP BY md5(line) HAVING COUNT(DISTINCT doc_id) >= 3),
         |bdocs AS (
         |  SELECT DISTINCT ln.doc_id FROM ln
         |  JOIN boiler ON md5(ln.line) = boiler.h2),
         |q AS (
         |  SELECT doc_id,
         |    CAST(floor(least(CAST(len(regexp_split_to_array(text, '\\s+'))
         |        AS DOUBLE) / 50.0, 1.0) *
         |      (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]'))
         |        AS DOUBLE) / length(text)) * 1e4 + 0.5) AS BIGINT) AS q4
         |  FROM documents)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS exact_dup_docs,
         |  CAST(SUM(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS neardup_docs,
         |  CAST(SUM(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS boiler_docs,
         |  CAST(SUM(q.q4) // COUNT(*) AS BIGINT) AS mean_quality_q4
         |FROM documents d
         |JOIN q ON q.doc_id = d.doc_id
         |LEFT JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near nr ON nr.doc_id = d.doc_id
         |LEFT JOIN bdocs b ON b.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "d30_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> t <> '') AS l
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, len(l) - 7),
        |      i -> {'pos': i, 'gram': l[i+1]||' '||l[i+2]||' '||l[i+3]||' '
        |        ||l[i+4]||' '||l[i+5]||' '||l[i+6]||' '||l[i+7]||' '||l[i+8]}))
        |      AS u
        |    FROM toks WHERE len(l) >= 8)),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, g.pos + s.s AS pos
        |  FROM g JOIN dup USING (gram)
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s),
        |tp AS (
        |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, len(l)),
        |      i -> {'pos': i, 'tok': l[i+1]})) AS u
        |    FROM toks)),
        |kept AS (
        |  SELECT tp.doc_id, tp.pos, tp.tok FROM tp
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |    WHERE cov.doc_id = tp.doc_id AND cov.pos = tp.pos)),
        |ka AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, len(l) AS n_tokens,
        |  len(l) - COALESCE(ka.n_kept, 0) AS n_removed,
        |  COALESCE(ka.clean_text, '') AS clean_text
        |FROM toks t LEFT JOIN ka USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "d21_crossmodal_cc" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |$d04OracleBody
         |), fpg AS (
         |  SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS gkey,
         |    doc_id
         |  FROM documents
         |), hubs AS (
         |  SELECT gkey, MIN(doc_id) AS hub FROM fpg
         |  GROUP BY gkey HAVING COUNT(*) > 1
         |), allp AS (
         |  SELECT id_a, id_b FROM pairs
         |  UNION
         |  SELECT h.hub AS id_a, f.doc_id AS id_b
         |  FROM fpg f JOIN hubs h ON f.gkey = h.gkey
         |  WHERE f.doc_id <> h.hub
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM allp
         |  UNION SELECT id_b, id_a FROM allp
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
         |)
         |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    "d15_semantic_dedup" -> d15OracleSqlFor(D05MaxExactBlock),
    "d05_embedding_neardup" ->
      s"""WITH ${blockedKnnOracleCtes(1, D05MaxExactBlock)}
         |SELECT vec_id, nn_id, cos FROM knn2t ORDER BY vec_id"""
        .stripMargin,
  )
}
