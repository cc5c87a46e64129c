package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftFunctions
import graft.functions.{HashFunctions, SketchFunctions, TextFunctions, VectorFunctions}
import graft.operators.{Collocations, Dedup, Dsir, Graphs, QualityFilter, Retrieval, Sampling, Similarity, Sketch, Skew, Unigram, Vocab, Wordpiece}
import graft.sources.Tables

/** Training-data pipeline pack (driver brief: first-class alongside
  * SURVEY.md §2): deduplication, similarity search, and text analysis over
  * the `documents` / `embeddings` tables.
  *
  * Oracle strategy: EVERY query here is oracled. The hash-seeded operators
  * (MinHash/SimHash/LSH/winnowing) build on the portable md5 hash family
  * and md5-derived hyperplanes, so DuckDB replays their construction
  * bit-for-bit; exact-arithmetic companions (n-gram Jaccard, brute-force
  * cosine) additionally pin the verification semantics. Mirror-blindness
  * caveat: an oracle derived from the same construction cannot catch a
  * degenerate DESIGN — statistical behavior is pinned separately in
  * TextSignaturesSpec.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact dedup, keep-first by doc_id within identical text (hash-groupBy
    // dedup: at 100 TB the shuffle key is the 8-byte fingerprint, not text).
    "q60_dedup_exact" -> ((s, d) => {
      Dedup.keepFirst(Tables.documents(s, d), Seq("text"), "doc_id")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Token counting: whitespace + BPE-ish regex counts. (These text-pack
    // projections sit ABOVE the sort — q48 rationale: range-partitioning's
    // sampling pass re-executes the subtree below Sort, and the sort
    // exchange fans a one-row-group file out across cores, so the expensive
    // text kernels run once, in parallel.)
    "q61_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .orderBy("doc_id")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
    }),

    // Quality scoring features (C4/Gopher-style heuristics).
    "q62_quality_features" -> ((s, d) => {
      Tables.documents(s, d)
        .orderBy("doc_id")
        .withColumn("q", TextFunctions.qualityFeatures(col("text")))
        .select(col("doc_id"),
          col("q.n_chars").as("n_chars_m"),
          col("q.n_tokens").as("n_tokens"),
          col("q.mean_word_len").as("mean_word_len"),
          col("q.digit_ratio").as("digit_ratio"),
          col("q.stopword_ratio").as("stopword_ratio"))
    }),

    // Language-ID heuristic (n-gram-free stopword argmax).
    "q63_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .orderBy("doc_id")
        .select(col("doc_id"),
          TextFunctions.stopwordCount(col("text"), TextFunctions.EnglishStopwords)
            .as("en_stopwords"),
          TextFunctions.langIdHeuristic(col("text")).as("lang_pred"))
    }),

    // Document fingerprinting — portable 60-bit exact-dup key + group sizes.
    // ORACLED: the fingerprint is the md5-derived portable hash, so DuckDB
    // reproduces the values bit-for-bit.
    "q64_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("fp", TextFunctions.portableFingerprint(col("text")))
        .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("keeper_id"))
        .orderBy("keeper_id")
    }),

    // MinHash + LSH near-dup candidates, verified with exact Jaccard.
    // Scale shape: fused per-doc signatures (zero shuffles) → ONE shuffle
    // into bucket groups with in-place pair expansion; exact Jaccard only
    // on candidates. ORACLED end-to-end: the full-width portable seeded
    // family is exact integer arithmetic DuckDB replays.
    "q65_minhash_lsh" -> ((s, d) => {
      minhashVerifiedPairs(Tables.documents(s, d).select("doc_id", "text"))
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup: portable 60-bit fingerprints, banded 15-bit blocks
    // for candidates, Hamming distance ≤ 8. ORACLED: the whole construction
    // (md5 bit-votes, banding, bit_count) is engine-independent.
    "q66_simhash" -> ((s, d) => {
      val sigs = Dedup.simhashSignaturesFused(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text")
      Dedup.simhashNearDup(sigs, "doc_id", maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // Exact n-gram Jaccard all-pairs over a small probe set (first 20 docs) —
    // the oracled companion pinning shingle/Jaccard semantics.
    "q67_ngram_jaccard" -> ((s, d) => {
      val probe = Tables.documents(s, d).filter(col("doc_id") < 20)
      val sh = Dedup.withShingles(probe, "doc_id", "text", n = 3)
      val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // SORTED-NEIGHBORHOOD blocking (merge/purge windowing) — the
    // complementary candidate-generation family to q65's LSH: global
    // positions on a normalized 24-char prefix key via assignDenseIds (range
    // shuffle + rank, NO single-partition window), neighbor pairs within 10
    // positions by a `pos div w` equi-join, trigram-Jaccard verification
    // per doc (q67 semantics). Finds the corpus's planted near-dups
    // because edits beyond the prefix leave neighbors adjacent.
    "q198_sorted_neighborhood" -> ((s, d) => {
      Dedup.sortedNeighborhood(
          Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", window = 10, minJaccard = 0.05,
          prefixLen = 24, numRanges = 16)
        .orderBy("id_a", "id_b")
    }),

    // ENTITY RESOLUTION composite (the merge/purge endgame): candidates
    // from BOTH blocking families — MinHash-LSH (q65, content-hash
    // buckets) ∪ sorted-neighborhood (q198, prefix order) — verified at
    // jaccard ≥ 0.5, unioned as canonical pairs, resolved to entities by
    // connected components, each member tagged with its entity id, size,
    // and canonical flag. Pins the interfaces between the two candidate
    // generators and the resolver as a UNIT (the q100/q172/q195
    // discipline); complementary blocking is the standard ER recipe
    // precisely because each family catches pairs the other misses.
    "q208_entity_resolution" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val lsh = minhashVerifiedPairs(docs).select("id_a", "id_b")
      val sn = Dedup.sortedNeighborhood(docs, "doc_id", "text",
          window = 10, minJaccard = 0.5, prefixLen = 24, numRanges = 16)
        .select("id_a", "id_b")
      val pairs = lsh.unionByName(sn)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("cluster", "entity_id")
      val sizes = comps.groupBy("entity_id")
        .agg(count(lit(1)).as("n_members"))
      comps.join(sizes, Seq("entity_id"))
        .select(col("doc_id"), col("entity_id"), col("n_members"),
          (col("doc_id") === col("entity_id")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // Brute-force cosine scores, query side broadcast (correctness baseline
    // for ANN): scores of 5 query vectors against the whole corpus.
    "q68_cosine_scores" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(VectorFunctions.cosine(col("embedding"), col("qvec")), 6)
            .as("cosine"))
        .orderBy("query_id", "vec_id")
    }),

    // Brute-force top-k ANN per query (k=10), ORACLED: both engines rank on
    // round(cosine, 6) with vec_id tiebreak, so the selected top-k set and
    // its order are reproducible (full-precision ranking can flip at the
    // rank-k boundary on last-ulp noise). Cosine to 6 digits is ~6
    // significant figures — far below the cross-engine round() divergence
    // threshold (q68 pins the same rounding).
    "q69_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(emb, queries, "vec_id", "query_id", "embedding",
        k = 10, scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // LSH-bucketed ANN (the 100 TB path) — same output shape as q69.
    // Accepted measure-zero risk (same class as q73's argmin): the oracle's
    // grouped projection sums may accumulate in a different order than the
    // kernel's sequential loop, so a projection within rounding noise of
    // 0.0 could flip a sign bit; with random embeddings P(|dot| < 1e-12)
    // is negligible and the gate has never tripped on it.
    // nBits derived from corpus size (log₂(n/targetPop)) so mean bucket
    // population — and therefore the candidate stream — stays constant as
    // the corpus grows; see Similarity.deriveBits for the math. ORACLED:
    // portable md5-Rademacher hyperplanes (VectorFunctions.hyperplanes) let
    // DuckDB regenerate the exact planes, replay the bucketing (including
    // the adaptive width), and re-rank on round(cosine,6) + id.
    "q70_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshTopK(emb, queries, "vec_id", "query_id", "embedding",
        k = 10, nTables = 4, scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // Johnson–Lindenstrauss projected top-k (the ANN prefilter stage):
    // corpus and queries projected 64→16 dims onto portable ±1 planes,
    // ranked on round(cosine_proj, 6) + id like q69. ORACLED: the oracle
    // SQL embeds the SAME md5-derived planes as literal DOUBLE[] lists and
    // replays projection + ranking exactly (list_dot_product matches the
    // kernels' element-order double accumulation — the q68 contract).
    "q126_jl_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.projectedTopK(emb, queries, "vec_id", "query_id",
          "embedding", k = 10, projDim = 16, seed = 7, scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine_proj").desc, col("vec_id"))
    }),

    // SQ8 scalar quantization (FAISS's SQ8/ADC shape): the corpus stored
    // as uint8 codes (4× smaller), candidates decoded in-plan and scored
    // asymmetrically against the raw query. Codes are integer-exact, so
    // the oracle replays train → encode → decode → rank end to end.
    "q133_sq8_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.sqTopK(emb, queries, "vec_id", "query_id", "embedding",
          k = 10, scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine_sq").desc, col("vec_id"))
    }),

    // IVF × SQ8 (the FAISS production config) oracled END TO END: the
    // cell-partitioned uint8-code index is materialized to disk, probed at
    // nProbe=4, decoded in-plan, re-ranked asymmetrically; the oracle
    // replays centers, cell argmin, probe selection, bounds, codes,
    // reconstruction, and ranking.
    "q136_ivf_sq_probe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val dir = tempIndexDir("graft-ivfsq-q136")
      val (cents, mins, maxs) = Similarity.writeIvfSqIndex(emb, dir,
        "vec_id", "embedding", nCentroids = 16)
      Similarity.ivfSqProbe(s, dir, cents, mins, maxs, queries,
          "vec_id", "query_id", "embedding", k = 10, nProbe = 4,
          scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // IVF × PQ (the FAISS billion-scale IVFADC config) oracled END TO END:
    // the cell-partitioned m-byte-code index is materialized to disk,
    // probed at nProbe=4, PQ-reconstructed in-plan, re-ranked
    // asymmetrically; the oracle replays centers, cell argmin, probe
    // selection, codebooks, argmin codes, reconstruction, and ranking.
    "q139_ivf_pq_probe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val dir = tempIndexDir("graft-ivfpq-q139")
      val (cents, books) = Similarity.writeIvfPqIndex(emb, dir,
        "vec_id", "embedding", nCentroids = 16, m = 8, nCodes = 16)
      Similarity.ivfPqProbe(s, dir, cents, books, queries,
          "vec_id", "query_id", "embedding", k = 10, nProbe = 4,
          scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // The FULL IVFADC (residual encoding): PQ codes quantize v − c(v)
    // (codebooks trained on residuals, sampled past the center rows), the
    // probe adds the cell centroid back before the asymmetric re-rank.
    // Same code budget as q139, finer quantization — and still fully
    // SQL-replayed, including the float32 residual round-trip.
    "q141_ivf_pq_residual" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val dir = tempIndexDir("graft-ivfpqr-q141")
      val (cents, books) = Similarity.writeIvfPqIndex(emb, dir,
        "vec_id", "embedding", nCentroids = 16, m = 8, nCodes = 16,
        residual = true)
      Similarity.ivfPqProbe(s, dir, cents, books, queries,
          "vec_id", "query_id", "embedding", k = 10, nProbe = 4,
          scoreDigits = Some(6), residual = true)
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // PRODUCT quantization (Jégou et al. 2011 ADC): 8 subspaces × 16
    // hash-sampled codebook entries → 8 small ints per vector (256 B →
    // 8 B), candidates reconstructed in-plan and scored against the raw
    // query. Codebooks, argmin codes, reconstruction, and ranking all
    // replay in SQL (the q101 argmin tie rule).
    "q134_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.pqTopK(emb, queries, "vec_id", "query_id", "embedding",
          k = 10, m = 8, nCodes = 16, scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine_pq").desc, col("vec_id"))
    }),

    // Two-stage retrieval: q126's JL prefilter casts a 3k candidate net,
    // exact cosine re-ranks the survivors — the production ANN shape (wide
    // vectors touch only 30 candidates/query, never the all-pairs score).
    "q127_rerank_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.rerankTopK(emb, queries, "vec_id", "query_id", "embedding",
          k = 10, projDim = 16, candidateFactor = 3, seed = 7,
          scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // Winnowing overlap detection (MOSS rolling-hash fingerprints): shared
    // token runs between documents surface as shared window-min hashes. The
    // synthetic corpus has no overlapping docs, so overlap is planted: full
    // copies of doc_id < 10 at +200000 must pair with their originals via
    // fingerprint collisions (explode → bucket groups, never all-pairs; the
    // maxDf cap is the stop-fingerprint/boilerplate filter). ORACLED: the
    // portable hash makes the fingerprints, and so the pairs, reproducible.
    "q74_winnow_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val fps = Dedup.winnowFingerprintsFused(docs.unionByName(planted), "doc_id", "text")
      Dedup.overlapPairs(fps, "doc_id", minShared = 3, maxDf = 20)
        .orderBy("id_a", "id_b")
    }),

    // Exact-substring span dedup (arXiv:2107.06499): maximal token spans
    // whose every 8-token window recurs in >= 2 distinct docs. Planted exact
    // copies guarantee full-document spans; natural cross-doc boilerplate in
    // the synthetic corpus surfaces as partial spans. ORACLED end-to-end:
    // tokenization, the portable window hashes, the distinct-doc df, and
    // the overlap merge are all replayed in SQL.
    "q114_span_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      Dedup.repeatedSpans(docs.unionByName(planted), "doc_id", "text",
          n = 8, minDf = 2)
        .orderBy("doc_id", "span_start")
    }),

    // Span REMOVAL (the paper's remedy): cut the repeated regions, keep the
    // rest. Planted copies clean to the empty string (every window shared);
    // untouched docs keep their full normalized text. ORACLED on the final
    // cleaned text itself plus the token accounting.
    "q115_span_removal" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      Dedup.removeRepeatedSpans(docs.unionByName(planted), "doc_id", "text",
          n = 8, minDf = 2)
        .select("doc_id", "n_tokens", "n_removed", "clean_text")
        .orderBy("doc_id")
    }),

    // INCREMENTAL span dedup (the streaming twin's core): even docs are the
    // already-indexed history (spanHashIndex), odd docs arrive as the batch
    // and are flagged against history + themselves — the history text is
    // never re-shingled, only its (window_hash, doc) pairs are probed. For
    // any window the batch contains, the probed-union df equals the full-
    // corpus df, so the batch's spans are EXACTLY the one-shot q114 spans
    // restricted to the batch's docs — which is how the oracle replays it.
    "q116_incremental_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(planted)
      val history = corpus.filter(col("doc_id") % 2 === 0)
      val batch = corpus.filter(col("doc_id") % 2 === 1)
      val index = Dedup.spanHashIndex(history, "doc_id", "text", n = 8)
      Dedup.incrementalRepeatedSpans(batch, "doc_id", "text", index,
          n = 8, minDf = 2)
        .orderBy("doc_id", "span_start")
    }),

    // KMV distinct-count sketch (Bar-Yossef et al. 2002): the k smallest
    // distinct portable hashes — O(k) mergeable state standing in for
    // countDistinct at corpus scale. Per-source sketches exercise the
    // exact branch (25 distinct < k); the ALL row exercises the estimator
    // branch; exact_distinct rides along to show the error. One
    // rollup(source) computes every scope in a single aggregation pass —
    // the ALL sketch is formed by the aggregate's own union-and-trim merge
    // across partial buffers (the same mergeable-state property that makes
    // the sketch day-over-day composable; the explode + re-aggregate merge
    // idiom is pinned in SketchSpec). ORACLED end-to-end: the kept set is
    // a row_number window over distinct md5 hashes, and the estimate is
    // one IEEE division of exact doubles.
    "q117_kmv_distinct" -> ((s, d) => {
      val k = 64
      Tables.documents(s, d)
        .select(col("source"), HashFunctions.portableHash60(col("text")).as("h"))
        .rollup("source")
        // grouping(), not null-coalescing: a genuine NULL source group must
        // not masquerade as the grand-total row (grouping() is only legal
        // inside the rollup's agg, hence the __g passthrough)
        .agg(SketchFunctions.kmvMinHashes(col("h"), k).as("sk"),
          countDistinct(col("h")).as("exact_distinct"),
          grouping(col("source")).as("__g"))
        .select(when(col("__g") === 1, lit("ALL"))
            .otherwise(col("source")).as("scope"),
          size(col("sk")).cast("long").as("n_kept"),
          element_at(col("sk"), size(col("sk"))).as("kth_min"),
          SketchFunctions.kmvEstimate(col("sk"), k).as("est_distinct"),
          col("exact_distinct"))
        .orderBy("scope")
    }),

    // Bottom-k sample quantiles: the third mergeable sketch (distinct
    // count, heavy hitters, quantiles) — a deterministic k=200 bottom-k-by-
    // hash sample of documents, quantiles as exact LOWER order statistics
    // over the sorted sample (integer indexing, no interpolation), so the
    // whole sketch replays in SQL. The sampled doc ids, not just the
    // quantile values, are pinned by the hash compare via n (= min(k, N)).
    "q121_sample_quantiles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      Sketch.sampleQuantiles(docs, "doc_id", "n_chars", k = 200,
          qs = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
        .orderBy("q")
    }),

    // Per-group bottom-k: every language keeps its 25 hash-smallest docs —
    // equal-budget stratified sampling (the "audit n examples per source"
    // shape), deterministic so the oracle replays the exact sampled ids.
    "q122_group_sample" -> ((s, d) => {
      Sketch.bottomKSamplePerGroup(Tables.documents(s, d), "lang", "doc_id",
          k = 25)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "doc_id")
    }),

    // Count-min heavy hitters (Cormode & Muthukrishnan 2005): a depth-4 ×
    // width-1024 counter sketch over the event stream, probed for every
    // distinct user. Estimates are one-sided (cm_est >= exact_n — bucket
    // collisions only inflate); exact counts ride along to show the bound.
    // ORACLED: the sketch counters and the min-over-seeds lookup replay in
    // SQL from the portable seeded family (bucket is key-determined, so
    // the oracle sums per-key exact counts into cells — identical to the
    // engine's per-row counting).
    "q118_heavy_hitters" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      Sketch.heavyHitters(ev, "user_id", depth = 4, width = 1024, threshold = 75L)
        .join(exact, Seq("user_id"))
        .select(col("user_id"), col("cm_est"), col("exact_n"))
        .orderBy("user_id")
    }),

    // IVF ANN (the second scale path): deterministic hash-sampled coarse
    // cells, nProbe probes, exact re-rank within probed cells. (Accepted
    // measure-zero risk: argmin cell assignment compares distances whose
    // last-ulp bits may differ across engines; a flip needs two centroid
    // distances within ~1e-13 relative — never observed.) ORACLED: the
    // centers, the argmin assignment, and the rounded-cosine ranking are all
    // engine-reproducible (rank on round(cosine,6) + id tiebreak — the q69
    // discipline). The nProbe==nCentroids==bruteforce invariant is in
    // SimilaritySpec.
    "q73_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfTopK(emb, queries, "vec_id", "query_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 4, scoreDigits = Some(6))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    }),

    // Embedding-cosine near-dup pairs above 0.999 via LSH buckets. The
    // synthetic corpus has no near-dups (max pairwise cosine ≈ 0.51), so the
    // query plants deterministic ones: scaled copies of vec_id < 10 at
    // vec_id + 100000 (cosine exactly 1 with their originals — scaling
    // preserves direction). Expected output: exactly those 10 pairs, at any
    // scale factor — found via bucket collisions, never all-pairs. ORACLED
    // as that construction: identical directions collide in every LSH table
    // structurally, so recall of the planted pairs is not probabilistic, and
    // round(cosine, 6) of a float-scaled copy is exactly 1.0 (per-element
    // relative error ≤ 2⁻²⁴ ≪ 5×10⁻⁷).
    "q71_embedding_neardup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), v => v * lit(1.5f)).as("embedding"))
      // nBits derived (planted exact copies collide in every table at any
      // width — scaling preserves direction, so recall is structural here).
      Similarity.nearDupPairs(emb.unionByName(planted), "vec_id", "embedding",
        threshold = 0.999, nTables = 8)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),

    // SEMANTIC dedup (SemDeDup, arXiv:2303.09540): centroid-cell
    // quantization → within-cell cosine pairs → transitive duplicate
    // groups → keep the member closest to its centroid. Planted exact
    // copies (vec_id + 100000) are the duplicates: a copy shares its
    // original's cell structurally (identical vector ⇒ identical quantizer
    // scores ⇒ same argmin), its pair scores cosine exactly 1, and the
    // keeper rule ties on centroid cosine so the LOWER id (the original)
    // survives. The synthetic corpus itself has no 0.999-cosine pairs
    // (max ≈ 0.51), so the expected clusters are exactly the planted
    // twins at any scale factor. ORACLED end-to-end: center sampling
    // (portable md5 order), assignment argmin, pair pruning, recursive-CTE
    // closure, and keeper selection all replay in SQL.
    "q101_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Similarity.semanticDedup(emb.unionByName(twins), "vec_id", "embedding",
        threshold = 0.999, nCells = 16, scoreDigits = Some(6))
        .orderBy("vec_id")
    }),

    // MODEL-BASED quality filtering (the CCNet/fastText pattern): train a
    // hashed-unigram centroid classifier on a weak label (lang == 'en' —
    // the classic wiki-vs-crawl seed labeling), score the whole corpus.
    // All arithmetic is integer (counts, 1e-9 fixed-point shares, long
    // sums) so training AND scoring replay exactly in SQL — no log-odds /
    // sigmoid whose libm and accumulation order are engine-private.
    "q102_quality_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labeled = docs.withColumn("__y", col("lang") === lit("en"))
      val w = QualityFilter.trainHashedCentroid(labeled, "text", "__y",
        nBuckets = 256)
      QualityFilter.scoreHashed(docs, "doc_id", "text", w)
        .orderBy("doc_id")
    }),

    // TEMPERATURE mixture (mT5/XLM-R multilingual sampling): target shares
    // ∝ n^0.5, smallest language kept whole. α = 0.5 makes the rate
    // sqrt(n_min/n) — correctly-rounded IEEE ops end to end, so the gate
    // replays exactly.
    "q106_temperature_mix" -> ((s, d) => {
      Sampling.temperatureRebalance(Tables.documents(s, d), "lang", "doc_id",
        alpha = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // EXACT-COUNT stratified sampling: exactly 30 docs per language,
    // chosen as the 30 smallest tag-keyed portable hashes — the count a
    // rate gate only hits in expectation. Replays in SQL as the same
    // hash-ordered row_number.
    "q104_exact_k_sample" -> ((s, d) => {
      Sampling.exactKPerStratum(Tables.documents(s, d), "lang", "doc_id",
        k = 30)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // BALANCED OUTPUT SHARDING: the distributed prefix sum assigns each
    // doc (in doc_id order) a training shard of ~2000 tokens. The oracle
    // replays it as ONE global cumsum window — fine at oracle scale, the
    // exact single-partition shape the operator exists to avoid.
    "q103_token_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.shardByTokens(docs, "doc_id", "n_tokens",
        targetTokensPerShard = 2000, nRanges = 8)
        .select("doc_id", "n_tokens", "token_start", "shard")
        .orderBy("doc_id")
    }),

    // Salted two-stage aggregation (the skew discipline): spreads a
    // pathological key over `buckets` reducers via partial aggregation on
    // (key, salt), then merges. The ORACLE is the plain GROUP BY — salting
    // must be result-invisible, and the gate proves it. Numeric sum uses
    // floor-to-milli longs (exact integer addition; double accumulation
    // order is engine-specific), min/max/count are order-free already.
    "q87_salted_agg" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("value"),
          floor(col("value") * 1000).cast("long").as("__milli"))
      Skew.saltedAggregate(ev, Seq("user_id"), buckets = 8)(
        partials = Seq(count(lit(1)).as("__c"), sum(col("__milli")).as("__s"),
          min(col("value")).as("__mn"), max(col("value")).as("__mx")),
        merges = Seq(sum(col("__c")).as("n_events"),
          sum(col("__s")).as("total_milli"),
          min(col("__mn")).as("min_value"), max(col("__mx")).as("max_value")))
        .orderBy("user_id")
    }),

    // PII scrub (emails/URLs masked) — the standard pre-training scrub.
    // The synthetic corpus contains neither, so they are PLANTED
    // deterministically on doc_id < 50; the ORACLE applies the identical
    // RE2-compatible patterns in the same order, and the hash compare runs
    // over the full scrubbed text.
    "q88_pii_scrub" -> ((s, d) => {
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") < 50,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com via https://example.org/d/"), col("doc_id")))
          .otherwise(col("text")).as("text"))
      withPii
        .orderBy("doc_id")
        .select(col("doc_id"),
          TextFunctions.countMatches(col("text"), TextFunctions.EmailPattern)
            .as("n_emails"),
          TextFunctions.countMatches(col("text"), TextFunctions.UrlPattern)
            .as("n_urls"),
          TextFunctions.scrubPii(col("text")).as("scrubbed"))
    }),

    // Repetition quality signal (Gopher-style): fraction of duplicate
    // word-2-grams per document. Exact distinct is doc-local (the group is
    // one doc), so no global distinct shuffle.
    "q89_repetition" -> ((s, d) => {
      Dedup.ngramRepetition(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    // Deterministic stratified sampling: down-sample over-represented 'en'
    // to 10%, keep every other language at 50% — hash-gated (never rand()),
    // so re-runs and task re-attempts select the identical corpus and the
    // oracle replays the draw from the portable hash. Pure filter: no
    // shuffle, pushes behind the scan.
    "q90_stratified_sample" -> ((s, d) => {
      Sampling.stratifiedSample(Tables.documents(s, d), "lang", "doc_id",
        rates = Map("en" -> 0.1), defaultRate = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // Sequence packing: documents laid end-to-end in token space per SHARD
    // (source), chunked into 512-token training sequences. Parallelism =
    // shard count; no global sort anywhere.
    "q91_sequence_pack" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      Sampling.sequencePack(toks, "source", "doc_id", "n_tokens", seqLen = 512)
        .select("doc_id", "source", "n_tokens", "seq_id", "seq_offset", "n_seqs")
        .orderBy("doc_id")
    }),

    // Mixture rebalance toward explicit target weights (the data-mixture
    // knob): en capped at 40% of the output, the rest split evenly. Rates
    // are derived IN-PLAN from per-stratum counts (c = min n_s/w_s), the
    // tiny rate table broadcast back onto the corpus, acceptance hash-gated.
    "q92_mixture_weights" -> ((s, d) => {
      Sampling.mixtureRebalance(Tables.documents(s, d), "lang", "doc_id",
        weights = Map("en" -> 0.4, "de" -> 0.15, "fr" -> 0.15,
          "es" -> 0.15, "zh" -> 0.15))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // End-to-end curation pipeline — the composite a reference user actually
    // runs before training: language filter (en), minimum length, quality
    // gates (digit ratio, n-gram repetition), then exact dedup keep-first.
    // Each stage is a previously-oracled operator; this pins their
    // COMPOSITION (filter ordering, join shape, dedup-after-filter).
    "q93_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val rep = Dedup.ngramRepetition(
        docs.select("doc_id", "text"), "doc_id", "text", n = 2)
        .select(col("doc_id"), col("dup_fraction"))
      val filtered = docs
        .withColumn("lang_pred", TextFunctions.langIdHeuristic(col("text")))
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .withColumn("q", TextFunctions.qualityFeatures(col("text")))
        .filter(col("lang_pred") === "en" && col("n_tokens") >= 20 &&
          col("q.digit_ratio") < 0.2)
        .join(rep, "doc_id")
        .filter(col("dup_fraction") < 0.3)
      Dedup.keepFirst(filtered, Seq("text"), "doc_id")
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    }),

    // SQL-frontend end-to-end: the registered function surface
    // (GraftFunctions) driven through spark.sql and the driver's oracle
    // gate — pins that the SQL and Column frontends are ONE implementation
    // (the builders construct the same expression trees GraftFunctionsSpec
    // checks value-equal).
    "q94_sql_frontend" -> ((s, d) => {
      GraftFunctions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_sql_docs")
      s.sql("""SELECT doc_id, graft_hash60(text) AS h60,
          graft_fingerprint(text) AS fp,
          graft_token_count(text) AS n_tokens,
          graft_lang_id(text) AS lang_pred,
          graft_blocklist_total(text, 'the|batch batch') AS n_block_hits,
          graft_interval_overlap(0, n_chars, 50, 200) AS ov_chars,
          graft_interval_contains(0, n_chars, 100) AS has_char_100
        FROM graft_sql_docs ORDER BY doc_id""")
    }),

    // Per-source corpus stats — the "document table health" rollup every
    // training-data pipeline runs before a job.
    "q72_corpus_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    }),

    // Benchmark decontamination: flag corpus docs sharing any word 8-gram
    // with the "benchmark" subset (docs with id % 41 = 0 stand in for an
    // eval suite). Benchmark shingle-hash set broadcasts; corpus shingles
    // join map-side on 8-byte longs — zero shuffles before the per-doc agg.
    "q98_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 41 === 0)
      Dedup.decontaminate(docs, "doc_id", "text", bench, "doc_id", "text", n = 8)
        .select("doc_id", "n_contaminated_ngrams", "n_benchmark_docs",
          "contaminated")
        .orderBy("doc_id")
    }),

    // Bloom-screened decontamination: q98's fixture, but the bench side
    // collapses to a 2^15-bit Bloom filter (k=3 portable seeded probes) —
    // the scale path when the benchmark shingle set is too large to
    // broadcast exactly. m is deliberately small so false positives DO
    // occur at this corpus size (one extra flagged doc at sf0.01 beyond
    // the 13 exact hits): the oracle must replay the probe/bit arithmetic
    // itself, not just the exact intersection, while m stays large enough
    // that the filter is unsaturated at bench scale.
    "q120_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 41 === 0)
      Dedup.decontaminateBloom(docs, "doc_id", "text", bench, "doc_id", "text",
          n = 8, mBits = 1 << 15, k = 3)
        .select("doc_id", "n_flagged_ngrams", "contaminated")
        .orderBy("doc_id")
    }),

    // DSIR importance resampling (Xie et al. 2023): model the TARGET
    // distribution (en docs — the wiki-quality seed) and the RAW corpus as
    // hashed {uni,bi}gram LMs; each doc's weight is Σ ln(p_t/p_r) over its
    // features on a micro-nat INTEGER grid (order-free exact sums — the
    // q102 fixed-point discipline applied to log space); keep the
    // Gumbel-top-k, with the Gumbel draw keyed on the portable id hash so
    // the sample replays exactly.
    "q124_dsir_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // both models in ONE feature pass (conditional sums — the q102 shape)
      val (tc, rc) = Dsir.trainTargetRawCounts(
        docs.withColumn("__is_en", col("lang") === lit("en")),
        "text", "__is_en", nBuckets = 512)
      Dsir.importanceResample(docs.select("doc_id", "lang", "source", "text"),
          "doc_id", "text",
          Dsir.modelFromCounts(tc), Dsir.modelFromCounts(rc), k = 150)
        .select("doc_id", "lang", "source", "dsir_score")
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity scoring: per-doc cross-entropy (micro-nats per
    // feature, integer) under the en-target hashed n-gram LM; `kept` is the
    // perplexity gate at 5.25 nats/feature (≈ the fixture corpus median, so the gate bites). Featureless docs carry null CE
    // and are never kept.
    "q125_ngram_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Dsir.trainNgramModel(docs.filter(col("lang") === "en"),
        "text", nBuckets = 512)
      Dsir.crossEntropy(docs, "doc_id", "text", model)
        .withColumn("kept",
          col("ce_micro").isNotNull && col("ce_micro") <= lit(5250000L))
        .orderBy("doc_id")
    }),

    // Subword seed-vocabulary induction (the SentencePiece seeding step):
    // top-200 most frequent substrings of length 2..5, ties on the token —
    // the distributed half of tokenizer training.
    "q131_subword_vocab" -> ((s, d) => {
      Vocab.topSubstrings(Tables.documents(s, d), "text",
          minLen = 2, maxLen = 5, topN = 200)
        .orderBy("token")
    }),

    // Subword ENCODING (the tokenizer apply step): greedy longest-match
    // against the q131-induced vocabulary — train the vocab, encode the
    // corpus, aggregate. The oracle replays greedy consumption with a
    // recursive CTE over (doc, word, position).
    "q132_subword_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = Vocab.topSubstrings(docs, "text", minLen = 2, maxLen = 5,
        topN = 200).collect().map(_.getString(0))
      Vocab.encodeGreedy(docs.select("doc_id", "text"), "doc_id", "text",
          vocab)
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          array_join(slice(col("subwords"), 1, 20), " ").as("head_subwords"))
        .orderBy("doc_id")
    }),

    // BPE merge-rule TRAINING (the iterative tokenizer-training loop q131
    // seeds): 8 rounds of pair-count argmax + in-plan literal-replace merge
    // over the word-type table. The oracle replays all 8 rounds as an
    // unrolled CTE chain — counts, deterministic tie-break, and the
    // left-to-right non-overlapping replace are identical by construction.
    "q137_bpe_merges" -> ((s, d) => {
      val merges = Vocab.trainBpe(Tables.documents(s, d), "text", nMerges = 8)
      Vocab.mergesDf(s, merges).orderBy("step")
    }),

    // BPE training from a DRAINED word-count table: the corpus lands in
    // two parquet waves, each drained into a persisted (src_file, word,
    // freq) store by the AvailableNow streaming drain, and the merge table
    // trains from the aggregate WITHOUT re-tokenizing the corpus. Word
    // counts are plain sums, so the oracle is exactly q137's — the
    // incremental path must land on the identical merge sequence.
    "q142_bpe_from_drain" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val root = tempIndexDir("graft-bpedrain-q142")
      val (src, counts, ckpt) =
        (root + "/src", root + "/counts", root + "/ckpt")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      graft.streaming.StreamingVocab.trainDrain(s, src, counts, ckpt,
        "text", schema)
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
      graft.streaming.StreamingVocab.trainDrain(s, src, counts, ckpt,
        "text", schema)
      val merges = Vocab.trainBpeFromCounts(
        graft.streaming.StreamingVocab.loadWordCounts(s, counts),
        "word", "freq", nMerges = 8)
      Vocab.mergesDf(s, merges).orderBy("step")
    }),

    // WordPiece training from a DRAINED word-count table — q142's
    // incremental discipline applied to the likelihood-scored merges: the
    // corpus lands in two waves, each drained into the persisted
    // (src_file, word, freq) store, and training runs off the aggregate
    // without re-tokenizing. Oracle = q147's verbatim — incremental ≡
    // one-shot.
    "q170_wordpiece_from_drain" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val root = tempIndexDir("graft-wpdrain-q170")
      val (src, counts, ckpt) =
        (root + "/src", root + "/counts", root + "/ckpt")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      graft.streaming.StreamingVocab.trainDrain(s, src, counts, ckpt,
        "text", schema)
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
      graft.streaming.StreamingVocab.trainDrain(s, src, counts, ckpt,
        "text", schema)
      val merges = Wordpiece.trainFromCounts(
        graft.streaming.StreamingVocab.loadWordCounts(s, counts),
        "word", "freq", nMerges = 8)
      Wordpiece.mergesDf(s, merges).orderBy("step")
    }),

    // Unigram hard-EM from a DRAINED word-count table: the seed substring
    // model AND the EM round both run off the drained aggregate
    // (seedModelFromCounts — substring occurrences are word-type counts
    // weighted by freq, identical by construction), so the whole training
    // loop never re-reads the corpus. Oracle = q145's verbatim.
    "q171_unigram_from_drain" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val root = tempIndexDir("graft-ugdrain-q171")
      val (src, counts, ckpt) =
        (root + "/src", root + "/counts", root + "/ckpt")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      graft.streaming.StreamingVocab.trainDrain(s, src, counts, ckpt,
        "text", schema)
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
      graft.streaming.StreamingVocab.trainDrain(s, src, counts, ckpt,
        "text", schema)
      val wc = graft.streaming.StreamingVocab.loadWordCounts(s, counts)
      val m0 = Unigram.seedModelFromCounts(wc, "word", "freq", minLen = 2,
        maxLen = 5, topN = 200)
      val m1 = Unigram.emRound(wc, "word", "freq", m0)
      Unigram.viterbiCounts(wc, "word", "freq", m1).orderBy("token")
    }),

    // TOKENIZER-FAMILY COMPOSITE (the q93/q128 discipline applied to the
    // tokenizer, packing, and export layers, whose interfaces were
    // previously tested only pairwise): train BPE on the corpus → encode
    // every document → hash subwords into a u16 vocab → sequence-pack per
    // source → export one flat u16 .bin shard per source → read the
    // binary back through `graft-clock` and aggregate. The final row
    // joins the PACK interface (n_docs, n_seqs from sequencePack output)
    // to the BINARY read-back (token count/sum/min/max from the .bin
    // files), so a drift in ANY layer — merge table, encode, id hashing,
    // pack arithmetic, byte layout, reader — breaks the oracle.
    "q172_tokenizer_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val merges = Vocab.trainBpe(docs, "text", nMerges = 8)
      // source → dense shard index: catalog-scale (a handful of corpus
      // sources), collected sorted so both engines agree
      val srcIdx = s.createDataFrame(
        docs.select("source").distinct().orderBy("source")
          .collect().map(_.getString(0)).zipWithIndex
          .map { case (v, i) => (v, i + 1L) }.toSeq)
        .toDF("source", "src_idx")
      val toks = Vocab.encodeBpe(docs.select("doc_id", "text"), "doc_id",
          "text", merges)
        .join(docs.select("doc_id", "source"), "doc_id")
        .join(broadcast(srcIdx), "source")
        .withColumn("__tids", transform(col("subwords"),
          w => pmod(HashFunctions.portableHash60(w), lit(65536L))))
        .withColumn("n_tokens", size(col("subwords")).cast("long"))
        .filter(col("n_tokens") > 0)
        .select("doc_id", "src_idx", "__tids", "n_tokens")
        // three consumers below (pack, export, nothing else re-tokenizes)
        .cache()
      val packed = Sampling.sequencePack(toks, "src_idx", "doc_id",
        "n_tokens", seqLen = 512)
      val dir = tempIndexDir("graft-tokens-q172")
      Sampling.exportTokenShards(packed, "src_idx", "doc_id", "__tids", dir)
      val packStats = packed.groupBy("src_idx")
        .agg(count(lit(1)).as("n_docs"),
          // contiguous chunking: the stream's last doc ends at
          // ceil(total/512) — max over docs of (seq_id + n_seqs)
          max(col("seq_id") + col("n_seqs")).as("n_seqs"))
      val binStats = s.read.format("graft-clock")
        .option("format", "u16").option("channels", "1")
        .load(dir + "/*.bin")
        .select(regexp_extract(col("file"), "shard-(\\d+)\\.bin$", 1)
            .cast("long").as("src_idx"),
          col("samples")(0).cast("long").as("__tid"))
        .groupBy("src_idx")
        .agg(count(lit(1)).as("n_tokens"), sum("__tid").as("token_sum"),
          min("__tid").as("token_min"), max("__tid").as("token_max"))
      packStats.join(binStats, "src_idx")
        .join(broadcast(srcIdx), "src_idx")
        .select("src_idx", "source", "n_docs", "n_seqs", "n_tokens",
          "token_sum", "token_min", "token_max")
        .orderBy("src_idx")
    }),

    // BYTE-LEVEL BPE TRAINING (q137's industry-default twin — the
    // GPT-2/tiktoken byte-fallback family): RAW whitespace pre-tokenize,
    // UTF-8 bytes as base symbols (2-hex-digit representation both
    // engines), 8 merge rounds of pair-count argmax + literal replace.
    // The oracle unrolls all 8 rounds over the hex symbolization.
    "q181_byte_bpe_merges" -> ((s, d) => {
      val merges = Vocab.trainBpeBytes(Tables.documents(s, d), "text",
        nMerges = 8)
      Vocab.mergesDf(s, merges).orderBy("step")
    }),

    // BYTE-LEVEL BPE ENCODING with the merge table trained in-query: hex
    // byte symbols + the 8 learned merges in order; subword hex strings
    // aggregate like q138. No [UNK] can appear by construction — every
    // byte falls back to its base symbol (spec-pinned on multi-byte UTF-8
    // and punctuation, which this ASCII corpus cannot exercise).
    "q182_byte_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Vocab.trainBpeBytes(docs, "text", nMerges = 8)
      Vocab.encodeBpeBytes(docs.select("doc_id", "text"), "doc_id", "text",
          merges)
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          array_join(slice(col("subwords"), 1, 20), " ").as("head_subwords"))
        .orderBy("doc_id")
    }),

    // BPE ENCODING with the merge table trained in-query: symbolize each
    // word to chars, apply the 8 learned merges in order, aggregate like
    // q132. Oracle = the q137 training chain + 8 unrolled apply steps over
    // per-doc words.
    "q138_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Vocab.trainBpe(docs, "text", nMerges = 8)
      Vocab.encodeBpe(docs.select("doc_id", "text"), "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          array_join(slice(col("subwords"), 1, 20), " ").as("head_subwords"))
        .orderBy("doc_id")
    }),

    // Okapi BM25 top-10 per query — sparse lexical retrieval: one corpus
    // tokenize pass, postings broadcast-restricted to the query terms, IDF
    // micro-snapped off the one ln() call, per-(doc,term) contributions
    // floored then BIGINT-summed (order-independent). Candidates = docs
    // sharing ≥1 term; ranks tie on doc_id.
    "q149_bm25_topk" -> ((s, d) => {
      val qs = s.createDataFrame(Seq(
        (1L, "hash join merge batch"), (2L, "window agg stream"),
        (3L, "fast scan filter column"), (4L, "vector sort query table")))
        .toDF("query_id", "qtext")
      Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text", qs,
          "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    }),

    // BM25 over a DISK-MATERIALIZED index (the 100 TB path): postings
    // (term, doc, tf, dl) written partitioned by pmod(xxhash64(term),
    // nBuckets), df + corpus stats (and the bucket modulus) beside them;
    // the probe partition-prunes to the query terms' buckets with the
    // term equality pushed to row groups — zero corpus scans. The oracle
    // is q149's inline computation verbatim: index ≡ inline is the
    // contract (also spec-pinned with the physical numFiles assertion).
    "q154_bm25_probe" -> ((s, d) => {
      val idx = tempIndexDir("graft-bm25-q154")
      Retrieval.writeBm25Index(Tables.documents(s, d), idx, "doc_id", "text",
        nBuckets = 16)
      val qs = s.createDataFrame(Seq(
        (1L, "hash join merge batch"), (2L, "window agg stream"),
        (3L, "fast scan filter column"), (4L, "vector sort query table")))
        .toDF("query_id", "qtext")
      Retrieval.bm25Probe(s, idx, qs, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    }),

    // Incremental BM25 index: the corpus lands in two parquet waves, each
    // drained into the staging store (doc-keyed posting rows + per-file
    // stats, src_file-idempotent), then published into the bucket-
    // partitioned probe layout WITHOUT re-tokenizing the backlog. Oracle =
    // q149's inline computation verbatim — incremental ≡ one-shot.
    "q155_bm25_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val root = tempIndexDir("graft-bm25drain-q155")
      val (src, staging, idx, ckpt) =
        (root + "/src", root + "/staging", root + "/idx", root + "/ckpt")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      graft.streaming.StreamingRetrieval.indexDrain(s, src, staging, ckpt,
        "doc_id", "text", schema)
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
      graft.streaming.StreamingRetrieval.indexDrain(s, src, staging, ckpt,
        "doc_id", "text", schema)
      graft.streaming.StreamingRetrieval.publish(s, staging, idx,
        nBuckets = 16)
      val qs = s.createDataFrame(Seq(
        (1L, "hash join merge batch"), (2L, "window agg stream"),
        (3L, "fast scan filter column"), (4L, "vector sort query table")))
        .toDF("query_id", "qtext")
      Retrieval.bm25Probe(s, idx, qs, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    }),

    // EXACT per-group nearest-rank quantiles (the exact companion of
    // q121's sample-based path): pure integer index arithmetic
    // ((p·n+99) div 100), one rank pass serving every percentile.
    "q164_exact_quantiles" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("price_cents",
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
      graft.operators.Robust.nearestRankQuantiles(li, Seq("l_returnflag"),
          "price_cents", Seq(10, 25, 50, 75, 90, 99))
        .orderBy("l_returnflag", "pct")
    }),

    // Robust per-supplier price outliers (Hampel's |x−med| > 3·MAD): all
    // order-statistic arithmetic on DOUBLED integers (med2 = lo+hi over
    // cents) — interpolated medians differ across engines in the last
    // ulp, doubled medians never touch a float. Quantization to cents is
    // floor(x·100 + 0.5), exact-input IEEE on both engines.
    "q162_mad_outliers" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("price_cents",
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
      graft.operators.Robust.madSummary(li, Seq("l_suppkey"), "price_cents",
          k = 3)
        .orderBy("l_suppkey")
    }),

    // Fuzzy self-join on edit distance (entity resolution over the part
    // catalog): q-gram prefilter + length filter + codegen'd Levenshtein
    // verify, short strings through the bounded all-pairs pool. Oracle =
    // the INDEPENDENT all-pairs scan over distinct names.
    "q161_fuzzy_join" -> ((s, d) => {
      Dedup.editDistanceJoin(Tables.part(s, d), "p_name", maxDist = 3)
        .orderBy("str_a", "str_b")
    }),

    // Asymmetric CONTAINMENT decontamination (|Q∩D|/|Q| >= 0.8 over
    // 3-shingles): the set-level detector between q98/q120's doc flags
    // and q130's span excision — containment survives the doc being much
    // larger than the leaked snippet, where Jaccard vanishes. Bench set =
    // the q130 planted leaked prefixes. Oracle independent of the prefix
    // rule (any-shared-shingle candidates + the gate).
    "q160_containment_join" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"),
          array_join(slice(split(
            TextFunctions.normalizeForDedup(col("text")), " "), 1, 12), " ")
            .as("snippet"))
      Dedup.containmentJoin(docs, "doc_id", "text", bench, "bench_id",
          "snippet", thresholdPct = 80, n = 3)
        .orderBy("query_id", "doc_id")
    }),

    // EXACT all-pairs Jaccard join (Bayardo/PPJoin prefix filtering) over
    // 3-shingle sets at J >= 0.6 — the hard-contract counterpart of
    // q65's LSH. The oracle is an INDEPENDENT formulation (candidates =
    // any shared shingle, then the exact integer gate, no prefix logic),
    // so it checks the pruning lost nothing, not a mirror.
    // maxPosting = MaxValue: the oracle has NO posting cap, so the query
    // must run the exact (uncapped) PPJoin contract — the default cap is a
    // scale guard that would silently drop pairs at boilerplate scale.
    "q158_allpairs_jaccard" -> ((s, d) => {
      Dedup.prefixFilterJaccard(Tables.documents(s, d), "doc_id", "text",
          thresholdPct = 60, n = 3, maxPosting = Int.MaxValue)
        .orderBy("id_a", "id_b")
    }),

    // MinHash-LSH candidate-quality evaluation — the lexical twin of q166's
    // ANN recall harness: ground truth = the EXACT PPJoin pair set
    // (Jaccard ≥ 30% on 3-shingles, uncapped), candidates = the q65
    // MinHash→LSH chain. Recall per truth-similarity decade band (LSH
    // recall rises with Jaccard — banding theory made measurable) plus the
    // global candidate precision; all ratios integer micros. The two
    // 1-row global aggregates ride a broadcast nest-loop join, bounded by
    // construction.
    //
    // The corpus is augmented with deterministic word-PREFIX probes (30/50/
    // 70/90% of the normalized words) of every 20th doc: J(prefix_a,
    // prefix_b) on 3-shingles ≈ min(pct)/max(pct), so the truth set
    // populates bands 30..100 at every scale. The base corpus alone is
    // bimodal (≥90% planted clones or <10% background), which left the
    // per-band arithmetic unexercised at the gate scale (ADVICE r9).
    // Probe count is corpus-linear; negative ids can't collide with real
    // doc ids.
    "q175_minhash_eval" -> ((s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "text")
      val probes = base.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          filter(split(TextFunctions.normalizeForDedup(col("text")), " "),
            w => length(w) > 0).as("__w"))
        .filter(size(col("__w")) >= 10)
        .select(col("doc_id"), col("__w"),
          explode(typedlit(Seq((30, 1), (50, 2), (70, 3), (90, 4))))
            .as("__p"))
        .select((-(col("doc_id") * 4 + col("__p._2"))).as("doc_id"),
          array_join(slice(col("__w"), lit(1),
            expr("(__p._1 * size(__w)) div 100")), " ").as("text"))
      val docs = base.unionByName(probes)
      val sigs = Dedup.minhashSignaturesFused(docs, "doc_id", "text",
        numHashes = 32, shingleN = 3)
      // two consumers (truth flagging + the precision denominator)
      val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 8,
        rowsPerBand = 4).select("id_a", "id_b").cache()
      val truth = Dedup.prefixFilterJaccard(docs, "doc_id", "text",
          thresholdPct = 30, n = 3, maxPosting = Int.MaxValue)
        .withColumn("bucket_pct",
          expr("(((100L * inter_size) div union_size) div 10) * 10"))
      val flagged = truth
        .join(cands.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
        .withColumn("__hit", coalesce(col("__hit"), lit(0)))
      // the per-bucket table is ≤ 11 rows — cut it so the global totals
      // below read IT rather than re-running the truth+flag subtree (the
      // uncapped PPJoin at t=30 is the query's whole cost: measured twice
      // as two 13 s / 57 s-CPU / 1.3 GB-spill stages, guide §1.2 "don't
      // compute things twice"); total_hit ≡ Σ n_hit over the buckets
      // because every flagged row lands in exactly one bucket
      val byBucket = flagged.groupBy("bucket_pct")
        .agg(count(lit(1)).as("n_truth"),
          sum(col("__hit")).cast("long").as("n_hit"))
        .localCheckpoint(true)
      val candTotal = cands.agg(count(lit(1)).as("total_cand"))
      val hitTotal = byBucket
        .agg(sum(col("n_hit")).cast("long").as("total_hit"))
      byBucket.crossJoin(broadcast(candTotal)).crossJoin(broadcast(hitTotal))
        .select(col("bucket_pct"), col("n_truth"), col("n_hit"),
          expr("(1000000L * n_hit) div n_truth").as("recall_micro"),
          col("total_cand"), col("total_hit"),
          expr("(1000000L * total_hit) div total_cand")
            .as("precision_micro"))
        .orderBy("bucket_pct")
    }),

    // Quantile DISCRETIZATION (feature binning): docs bucketed into
    // length deciles by the exact nearest-rank boundaries — boundaries
    // are catalog-scale (collected, broadcast as literals); bucket = 1 +
    // count of boundaries <= value, pure integer. The corpus-global rank
    // pass is the one global window (documented: the sampled-quantile
    // path q121 is the 100 TB boundary source; exact boundaries here pin
    // the semantics).
    "q169_decile_binning" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("__g", lit(1))
      val bounds = graft.operators.Robust.nearestRankQuantiles(
          docs, Seq("__g"), "n_chars", (10 to 90 by 10))
        .orderBy("pct").collect().map(_.getLong(3))
      val arr = typedlit(bounds.toSeq)
      docs
        .withColumn("decile",
          (lit(1) + size(filter(arr, b => b <= col("n_chars"))))
            .cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("decile")
    }),

    // RFM customer segmentation (the retail classic): per user with ≥1
    // purchase, recency (whole days before the corpus frontier), purchase
    // frequency, and monetary micros; each dimension quartile-coded with
    // the q169 nearest-rank boundary rule (code = 1 + #bounds ≤ value,
    // ascending). Boundaries are 3 longs per dimension collected to the
    // driver — the q169 bounded-collect discipline.
    "q211_rfm_segments" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
      val per = ev.filter(col("event_type") === "purchase")
        .withColumn("vm", floor(col("value") * 1000000).cast("long"))
        .groupBy("user_id")
        .agg(expr(s"($maxUs - max(unix_micros(ts))) div 86400000000")
            .as("recency_days"),
          count(lit(1)).as("frequency"), sum(col("vm")).as("monetary_micro"))
      def bounds(dim: String): Seq[Long] =
        graft.operators.Robust.nearestRankQuantiles(
            per.withColumn("__g", lit(1)), Seq("__g"), dim, Seq(25, 50, 75))
          .orderBy("pct").collect().map(_.getLong(3)).toSeq
      def code(dim: String, bs: Seq[Long]) =
        (lit(1) + size(filter(typedlit(bs), b => b <= col(dim)))).cast("long")
      val (rb, fb, mb) =
        (bounds("recency_days"), bounds("frequency"), bounds("monetary_micro"))
      per
        .withColumn("r_bucket", code("recency_days", rb))
        .withColumn("f_bucket", code("frequency", fb))
        .withColumn("m_bucket", code("monetary_micro", mb))
        .withColumn("rfm_code",
          col("r_bucket") * 100 + col("f_bucket") * 10 + col("m_bucket"))
        .orderBy("user_id")
    }),

    // HyperLogLog distinct-count sketch (Flajolet 2007) beside the KMV
    // path: portable-hash ranks from the BINARY-STRING length (no float
    // log), registers merged with plain max, harmonic sum carried as the
    // exact integer sum of 2^(50-M) — engine-identical end to end; the
    // one ln (small-range linear counting) micro-snapped. Exact distinct
    // joined alongside so the oracle also pins the error visibly.
    "q167_hll_distinct" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val hll = Sketch.hllDistinct(li, Seq("l_returnflag"), "l_orderkey",
        p = 8)
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct("l_orderkey").as("n_exact"))
      hll.join(exact, Seq("l_returnflag"))
        .select("l_returnflag", "m", "zeros", "est_micro", "n_exact")
        .orderBy("l_returnflag")
    }),

    // ANN EVALUATION harness: recall@10 of the IVF probe against exact
    // brute force, per query — the measurement loop any production ANN
    // deployment runs; both sides deterministic (rounded-cosine + id
    // ties), recall as integer counts out of 10.
    "q166_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "query_id", "embedding", k = 10, scoreDigits = Some(6))
      val approx = Similarity.ivfTopK(emb, queries, "vec_id", "query_id",
        "embedding", k = 10, nCentroids = 16, nProbe = 4,
        scoreDigits = Some(6))
      exact.select(col("query_id"), col("vec_id"))
        .join(approx.select(col("query_id"), col("vec_id"),
          lit(1L).as("__hit")), Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_recalled"))
        .withColumn("recall_pct", expr("100 * n_recalled div k"))
        .orderBy("query_id")
    }),

    // HARD-NEGATIVE mining for contrastive training: per query the
    // semi-hard cosine band (ranks 20..29) — skips near-dup clones AND
    // the uninformative random tail; rounded-cosine + id ties keep the
    // band edges engine-reproducible.
    "q165_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.rankBand(emb,
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("embedding")),
          "vec_id", "query_id", "embedding", loRank = 20, hiRank = 29,
          scoreDigits = Some(6))
        .orderBy("query_id", "rank")
    }),

    // Per-node TRIANGLE counts over the same kNN graph — neighborhood
    // self-agreement. Degree-ordered orientation caps out-degrees at
    // O(sqrt(E)) so the wedge join is bounded (Suri & Vassilvitskii);
    // each triangle found exactly once at its orientation-minimal apex.
    // Oracle = the independent canonical a<b<c triple join.
    "q163_triangles" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.triangleCounts(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst")
        .orderBy("node")
    }),

    // Integer-arithmetic PageRank over the corpus's own kNN similarity
    // graph (top-3 rounded-cosine neighbors per embedding) — centrality
    // from similarity structure, 3 rounds of pure-BIGINT rank propagation
    // (div floors, no floats → bit-exact on any engine, no grid hazard).
    "q157_pagerank_knn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.pageRank(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst", iterations = 3)
        .orderBy("node")
    }),

    // Deterministic synchronous label propagation (4 rounds, neighbor-mode
    // labels, ties to the smallest) over the same kNN similarity graph —
    // community detection as the grouping signal beside q157's centrality.
    // Sync rounds + pinned tie-break make the trajectory engine-exact; the
    // oracle unrolls the 4 rounds.
    "q173_label_prop" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.labelPropagation(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst", rounds = 4)
        .orderBy("node")
    }),

    // Newman modularity of the q173 partition, per community, on the micro
    // grid with pure-integer arithmetic — the quality score for the LPA
    // communities (positive Σ q_micro = better than random). The kNN edge
    // list is cached: LPA's rounds AND the three modularity passes all
    // consume it.
    "q176_lpa_modularity" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      val edges = knn.select(col("query_id").as("src"),
        col("vec_id").as("dst")).cache()
      val labels = Graphs.labelPropagation(edges, "src", "dst", rounds = 4)
      Graphs.modularityByCommunity(edges, "src", "dst", labels, "node",
          "community")
        .orderBy("community")
    }),

    // Planar radius self-join over the first two embedding dims (integer
    // micros): grid cells of radius size, right side exploded to its 9
    // neighbor cells so every pair meets on EXACTLY one cell key (the
    // sorted-neighborhood trick in 2D — no dedup pass), exact squared
    // distance verification. The oracle is the BRUTE all-pairs filter —
    // independent mechanics.
    "q218_radius_join" -> ((s, d) => {
      val pts = Tables.embeddings(s, d)
        .select(col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000000)
            .cast("long").as("x"),
          floor(element_at(col("embedding"), 2).cast("double") * 1000000)
            .cast("long").as("y"))
      graft.operators.Spatial.radiusSelfJoin(pts, "vec_id", "x", "y",
          radiusMicro = 50000L)
        .orderBy("id_a", "id_b")
    }),

    // Per-node local clustering coefficient on the same kNN graph —
    // exact integer micros, degree-<2 nodes report 0; the local-density
    // companion to q163's raw triangle counts.
    "q210_clustering_coeff" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.clusteringCoefficient(knn.select(col("query_id").as("src"),
        col("vec_id").as("dst")), "src", "dst")
        .orderBy("node")
    }),

    // Degree assortativity of the same kNN similarity graph as ONE exact
    // integer rational (r = r_num/r_den): on the symmetrized edge list the
    // x/y marginals coincide, so Pearson's sqrt-of-variances denominator
    // collapses to a single integer — no float anywhere. Negative r =
    // the hub-to-leaf wiring typical of similarity kNN graphs.
    "q207_assortativity" -> ((s, d) => {
      import graft.functions.StatsFunctions.snapLong
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      // Operator output is DECIMAL(38,0) (hub-heavy graphs overflow
      // Long); the declared query snaps every statistic to BIGINT with a
      // loud range guard (VERDICT r11 #1 — driver hash stability).
      Graphs.degreeAssortativity(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst")
        .select(col("n_endpoints"),
          snapLong(col("sum_x")).as("sum_x"),
          snapLong(col("sum_xy")).as("sum_xy"),
          snapLong(col("sum_xx")).as("sum_xx"),
          snapLong(col("r_num")).as("r_num"),
          snapLong(col("r_den")).as("r_den"))
    }),

    // TOKEN LORENZ CURVE per source (the curation budget plot: what share
    // of documents carries what share of tokens): docs ranked by token
    // count within source, cumulative token share sampled at each decile
    // boundary as exact per-mille — ranked cumulative sums over one keyed
    // sort, the q246 Gini's plottable companion.
    "q248_token_lorenz" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
      val w = Window.partitionBy("source").orderBy(col("tok"), col("doc_id"))
      val wAll = Window.partitionBy("source")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("cum_tok", sum(col("tok")).over(run))
        .withColumn("tot_tok", sum(col("tok")).over(wAll))
        // row i is a decile boundary iff some multiple k·n lands in
        // (10(i−1), 10i] ⟺ i = ⌈k·n/10⌉ — pure integer arithmetic
        .filter(expr("(10 * i) div n > (10 * (i - 1)) div n"))
        .select(col("source"), expr("(10 * i) div n").as("decile"),
          col("i").as("n_docs"),
          expr("(1000 * cum_tok) div tot_tok").as("tok_permille"))
        .orderBy("source", "decile")
    }),

    // DEDUP YIELD REPORT (the summary every dedup pipeline ships): from
    // q99's cluster resolution, the cluster-SIZE distribution plus the
    // keep rate — docs surviving keep-one-per-cluster over total, as an
    // exact per-mille. One aggregation over the resolved table; pins the
    // pairs → CC → report chain as the user-facing rollup.
    "q247_dedup_yield" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val pairs = minhashVerifiedPairs(docs)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val clustered = docs.select("doc_id").join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val sizes = clustered.groupBy("cluster").agg(count(lit(1)).as("sz"))
      val total = docs.count()
      sizes.groupBy("sz")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("sz") * col("n_clusters"))
        .withColumn("total_docs", lit(total))
        .withColumn("keep_permille_if_dropped", expr(
          "(1000 * (total_docs - (n_docs - n_clusters))) div total_docs"))
        .orderBy("sz")
    }),

    // q247's DRAIN TWIN (VERDICT r11 #7): the yield report computed from
    // the INCREMENTALLY drained cluster table — two chronological waves
    // through StreamingDedup.drain with the verified-pair upgrade (the
    // persisted shingle store + per-wave jaccard gate, q65/q247's exact
    // parameters), clusters merged per wave via mergeComponents — must
    // equal the one-shot report row-for-row: the oracle is q247's SQL
    // verbatim. The corpus is never re-bucketed and never re-verified;
    // each wave pays O(wave candidates).
    "q251_dedup_yield_from_drain" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val root = java.nio.file.Files
        .createTempDirectory("graft-dedupdrain-q251").toString
      val (src, idx, cands, ckpt, clusters, shingles) = (root + "/src",
        root + "/idx", root + "/cands", root + "/ckpt",
        root + "/clusters", root + "/shingles")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def wave(): Unit = graft.streaming.StreamingDedup.drain(s, src, idx,
        cands, ckpt, "doc_id", "text", schema, numHashes = 32,
        shingleN = 3, bands = 8, rowsPerBand = 4,
        clustersDir = Some(clusters), verify = Some((shingles, 0.5)))
      docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      wave()
      docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
      wave()
      val comps = graft.operators.Populate.readIfExists(s, clusters).get
        .withColumnRenamed("id", "doc_id")
      val clustered = docs.select("doc_id").join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val sizes = clustered.groupBy("cluster").agg(count(lit(1)).as("sz"))
      val total = docs.count()
      sizes.groupBy("sz")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("sz") * col("n_clusters"))
        .withColumn("total_docs", lit(total))
        .withColumn("keep_permille_if_dropped", expr(
          "(1000 * (total_docs - (n_docs - n_clusters))) div total_docs"))
        .orderBy("sz")
    }),

    // BENFORD leading-digit profile (the fraud/keying-error screen of
    // the data-quality family): per return flag, the distribution of
    // price first digits as exact per-mille integers — a keyed count on
    // a 9-value dimension, leading digit via the decimal string (both
    // engines render positive longs identically).
    "q244_benford" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("cents",
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
        .filter(col("cents") > 0)
        .withColumn("digit",
          substring(col("cents").cast("string"), 1, 1).cast("long"))
      val totals = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_total"))
      li.groupBy("l_returnflag", "digit")
        .agg(count(lit(1)).as("n"))
        .join(totals, Seq("l_returnflag"))
        .withColumn("permille", expr("(1000 * n) div n_total"))
        .orderBy("l_returnflag", "digit")
    }),

    // CALIBRATION / reliability table (the q230 AUC's companion —
    // discrimination AND calibration close the eval loop): score deciles
    // via the deterministic rank-shared binning, then per (source, bin)
    // the count, mean score, and positive rate, every statistic an exact
    // integer micro (floor-div on nonnegative sums).
    "q240_calibration" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .withColumn("score_micro",
          least(lit(1000000L), col("n_chars").cast("long") * 500L))
        .withColumn("y", (col("lang") === "en").cast("long"))
      graft.operators.Features.quantileBin(scored, Seq("source"),
          "score_micro", nBins = 10, binCol = "bin")
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n"),
          sum(col("y")).as("n_pos"),
          expr("sum(score_micro) div count(1)").as("mean_score_micro"),
          expr("(1000000 * sum(y)) div count(1)").as("pos_rate_micro"))
        .orderBy("source", "bin")
    }),

    // FEATURE ENGINEERING: deterministic quantile bins (rank-based —
    // ties share a bin, unlike ntile's arbitrary tie splits) + leave-one-
    // out target encoding (mean of the OTHER rows' targets per category —
    // the standard leakage guard) on the documents table, one training-
    // feature row per doc. Integer micros end to end.
    "q232_feature_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("target_micro",
          (col("n_chars").cast("long") * 1000L))
      val binned = graft.operators.Features.quantileBin(
        docs, Seq("source"), "n_chars", nBins = 4, binCol = "len_bin")
      graft.operators.Features.targetEncodeLoo(
          binned, Seq("lang"), "target_micro", encCol = "lang_enc_micro")
        .select("doc_id", "source", "lang", "n_chars", "len_bin",
          "lang_enc_micro")
        .orderBy("doc_id")
    }),

    // EXACT ROC-AUC (Mann–Whitney with tie correction) per source: does
    // document length separate English from the rest? Doubled average
    // ranks keep ties integer-exact; the rank sums run in DECIMAL(38,0)
    // (the q215/q207 overflow discipline — Σ rank² is O(n²)).
    "q230_auc_exact" -> ((s, d) => {
      graft.operators.Eval.aucExact(
          Tables.documents(s, d)
            .withColumn("is_en", (col("lang") === "en").cast("boolean")),
          Seq("source"), "n_chars", "is_en")
        .orderBy("source")
    }),

    // LINK PREDICTION over the kNN similarity graph: common-neighbor
    // count + exact neighborhood-Jaccard micro per candidate pair, with
    // is_edge as the label column an LP model trains against. Per-center
    // in-place pair expansion (one shuffle, hub-capped before collect);
    // the 10k cap excludes nothing at this scale and the oracle mirrors
    // it, so it is part of the semantics.
    "q228_link_prediction" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.linkPrediction(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst", maxDegree = 10000)
        .orderBy("u", "v")
    }),

    // Maximal-marginal-relevance selection: the 10-item DIVERSE draw from
    // the 40 embeddings most similar to vec 0 (λ = 70) — coreset picking
    // after retrieval. Greedy rounds are engine-exact (undivided integer
    // objective, floor-snapped cosine micro, smallest-id ties); the oracle
    // unrolls all 10 picks.
    "q177_mmr_select" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qvec = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val rel = Similarity.bruteForceTopK(emb, qvec, "vec_id", "query_id",
          "embedding", k = 40, scoreDigits = Some(6))
        .select(col("vec_id"),
          floor(col("cosine") * lit(1000000.0)).cast("long").as("rel_micro"))
      val pool = rel.join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      Similarity.mmrSelect(pool, "vec_id", "embedding", "rel_micro",
          k = 10, lambdaPct = 70)
        .withColumnRenamed("id", "vec_id")
        .orderBy("rank")
    }),

    // Clustering-quality diagnostics per quantizer cell (q153's seed
    // centers): capture count (imbalance), inertia = Σ floor(10⁶·‖x−c‖²)
    // (compactness — the k-means objective), margin = Σ of the
    // best-vs-runner-up quantizer-score gap (separation; the x·x term
    // cancels, so it is exact ‖x−c₂‖²−‖x−c₁‖² with no new arithmetic).
    "q178_cluster_quality" -> ((s, d) => {
      Similarity.clusterQuality(Tables.embeddings(s, d), "vec_id",
          "embedding", nCentroids = 16)
        .orderBy("cell")
    }),

    // PMI bigram collocations (Church & Hanks 1990): adjacent pairs straight
    // off each doc's word array (no per-doc window shuffle), vocabulary-
    // scale count joins, micro-snapped ln, min-count gate, top-50 as
    // TakeOrderedAndProject.
    "q156_pmi_collocations" -> ((s, d) => {
      Collocations.pmiBigrams(Tables.documents(s, d), "text",
          minCount = 5L, topN = 50)
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
    }),

    // Windowed skip-gram PMI (window 3): ordered co-occurrence pairs up to
    // 3 apart — the long-range collocations adjacency misses. Same in-place
    // pair expansion (nested transform+flatten, no per-doc shuffle),
    // vocabulary-scale joins, one micro-snapped ln.
    "q179_pmi_skipgrams" -> ((s, d) => {
      Collocations.pmiSkipgrams(Tables.documents(s, d), "text", window = 3,
          minCount = 5L, topN = 50)
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
    }),

    // TF-IDF keyword extraction: top-3 terms per doc by tf·idf_micro
    // (ties on the term), idf = ln(N/df) on the micro grid.
    "q150_tfidf_keywords" -> ((s, d) => {
      Retrieval.tfidfKeywords(Tables.documents(s, d), "doc_id", "text", n = 3)
        .orderBy("doc_id", "rank")
    }),

    // Hybrid retrieval: BM25 (query = the doc's own text) fused with exact
    // dense cosine (query = the doc's embedding; vec_id aligns with
    // doc_id) by reciprocal-rank fusion — the pure-integer 10⁹ div (60+r)
    // reciprocal, so the fusion needs no float compare at all.
    "q151_hybrid_rrf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val qids = Seq(3L, 57L, 120L, 311L)
      val qdocs = docs.filter(col("doc_id").isin(qids: _*))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val sparse = Retrieval.bm25TopK(docs, "doc_id", "text", qdocs,
        "query_id", "qtext", k = 20)
      val qvecs = emb.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("query_id"), col("embedding"))
      val dense = Similarity.bruteForceTopK(emb, qvecs, "vec_id", "query_id",
          "embedding", k = 20, scoreDigits = Some(6))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
      Retrieval.hybridRrf(Seq(
          sparse.select("query_id", "doc_id", "rank"),
          dense.select(col("query_id"), col("vec_id").as("doc_id"),
            col("rank"))),
        "query_id", "doc_id", "rank", k = 10)
        .orderBy("query_id", "rank")
    }),

    // Exact phrase search over the positional posting index (overlapping
    // matches count). The oracle is an INDEPENDENT formulation — a
    // token-array slice compare per position — so the posting-join shape
    // is checked against different semantics, not a mirror.
    "q152_phrase_search" -> ((s, d) => {
      val phrases = s.createDataFrame(Seq(
        (1L, "hash join"), (2L, "slow fast"), (3L, "window agg row"),
        (4L, "the table"))).toDF("query_id", "phrase")
      Retrieval.phraseSearch(Tables.documents(s, d), "doc_id", "text",
          phrases, "query_id", "phrase")
        .orderBy("query_id", "doc_id")
    }),

    // One distributed Lloyd (k-means) iteration, oracled — the
    // cross-engine-checkable counterpart of the engine-private MLlib
    // trainCenters: hash-sampled seed centers (the IVF default), the
    // shared quantizer argmin, then per-cell counts + per-dimension
    // micro-integer coordinate sums (BIGINT — order-independent totals).
    // Output is the FLAT (cell, n, d, sum_micro) shape — scalar columns
    // only, the driver-gate contract (GateContractSpec) — rather than the
    // operator's array-assembled form; callers rebuilding centroids use
    // kmeansStep directly.
    "q153_kmeans_step" -> ((s, d) => {
      Similarity.kmeansStep(Tables.embeddings(s, d), "vec_id", "embedding",
          nCentroids = 16)
        .select(col("cell"), col("n"),
          posexplode(col("sums_micro")).as(Seq("__d0", "sum_micro")))
        .select(col("cell"), col("n"),
          (col("__d0") + 1).cast("long").as("d"), col("sum_micro"))
        .orderBy("cell", "d")
    }),

    // WordPiece merge-rule TRAINING (Schuster & Nakajima 2012): 8 rounds of
    // likelihood-scored argmax (count(pair)/(count(l)·count(r)) — exact
    // BIGINT counts, one IEEE multiply+divide, so the ordering is
    // engine-identical with no libm involved) over the ##-marked word-type
    // table. Fully-merged words stay in the unit-count denominators. The
    // oracle unrolls all 8 rounds as a CTE chain like q137's.
    "q147_wordpiece_merges" -> ((s, d) => {
      val merges = Wordpiece.train(Tables.documents(s, d), "text", nMerges = 8)
      Wordpiece.mergesDf(s, merges).orderBy("step")
    }),

    // WordPiece ENCODING: greedy longest-match against the trained
    // vocabulary (alphabet + one unit per merge), word-initial vs ##
    // continuation identities, whole-word [UNK] collapse. Oracle = the
    // q147 training chain + a recursive greedy-consumption CTE (q132's
    // shape with the ## position rule).
    "q148_wordpiece_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val wc = Vocab.wordCounts(docs, "text")
      val merges = Wordpiece.trainFromCounts(wc, "word", "freq", nMerges = 8)
      val vocab = Wordpiece.vocabulary(wc, "word", merges)
      Wordpiece.encode(docs.select("doc_id", "text"), "doc_id", "text", vocab)
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          array_join(slice(col("subwords"), 1, 20), " ").as("head_subwords"))
        .orderBy("doc_id")
    }),

    // UNIGRAM-LM tokenizer (Kudo 2018) E-STEP: the seed model's Viterbi
    // segmentation of every word type, token wins summed over the corpus
    // weighted by word frequency — the distributed half of hard-EM
    // training. The oracle unrolls the lattice DP over suffix lengths and
    // walks the argmax path with a recursive CTE.
    "q143_unigram_estep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Unigram.seedModel(docs, "text", minLen = 2, maxLen = 5,
        topN = 200)
      Unigram.viterbiCounts(Vocab.wordCounts(docs, "text"), "word", "freq",
          model)
        .orderBy("token")
    }),

    // UNIGRAM-LM Viterbi ENCODING under the seed model — the apply step:
    // max-probability segmentation per word (micro-nat integer scores,
    // deterministic tie rule), aggregated like q132/q138.
    "q144_unigram_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Unigram.seedModel(docs, "text", minLen = 2, maxLen = 5,
        topN = 200)
      Unigram.encode(docs.select("doc_id", "text"), "doc_id", "text", model)
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          array_join(slice(col("subwords"), 1, 20), " ").as("head_subwords"))
        .orderBy("doc_id")
    }),

    // A FULL unigram hard-EM round oracled: seed E-step counts → M-step
    // renormalize + prune (zero-win tokens drop, single chars floor at
    // count 1) → E-step again under the new model. The oracle runs the
    // lattice DP twice (seed vocab, then the renormalized one).
    "q145_unigram_em_round" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val wc = Vocab.wordCounts(docs, "text")
      val m0 = Unigram.seedModel(docs, "text", minLen = 2, maxLen = 5,
        topN = 200)
      val m1 = Unigram.emRound(wc, "word", "freq", m0)
      Unigram.viterbiCounts(wc, "word", "freq", m1).orderBy("token")
    }),

    // Viterbi encoding under the TRAINED (one-EM-round) model — the
    // apply step production actually ships: prune reshapes the lattice,
    // so segmentations differ from the seed model's (q144).
    "q146_unigram_encode_trained" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Unigram.train(docs, "text", rounds = 1, minLen = 2,
        maxLen = 5, topN = 200)
      Unigram.encode(docs.select("doc_id", "text"), "doc_id", "text", model)
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          array_join(slice(col("subwords"), 1, 20), " ").as("head_subwords"))
        .orderBy("doc_id")
    }),

    // SPAN-LEVEL decontamination: benchmark snippets (the 12-token prefix
    // of every doc_id % 41 == 0 doc — a planted leaked-question fixture)
    // are excised from the corpus as maximal spans, not doc-level flags:
    // contaminated docs lose exactly their leaked prefix and keep the
    // rest; everyone else passes through verbatim.
    "q130_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"),
          array_join(slice(split(
            TextFunctions.normalizeForDedup(col("text")), " "), 1, 12), " ")
            .as("snippet"))
      Dedup.decontaminateSpans(docs, "doc_id", "text", bench, "bench_id",
          "snippet", n = 8)
        .select("doc_id", "n_tokens", "n_removed", "clean_text")
        .orderBy("doc_id")
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis via
    // Gumbel keys): 120 docs ∝ n_chars — longer docs proportionally more
    // likely, the "sample by token mass" primitive. Key arithmetic on the
    // micro grid, replayed exactly by the oracle.
    "q129_weighted_sample" -> ((s, d) => {
      Sampling.weightedSampleK(Tables.documents(s, d), "doc_id", "n_chars",
          k = 120)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Per-language weighted sampling: 20 docs per language, inclusion ∝
    // n_chars within each — equal stratum budgets, weighted draws.
    "q135_group_weighted_sample" -> ((s, d) => {
      Sampling.weightedSampleKPerGroup(Tables.documents(s, d), "lang",
          "doc_id", "n_chars", k = 20)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // The round-7 SELECTION composite (the q93 discipline applied to the
    // learned stages): rule gates (langid + length) → perplexity gate under
    // the target LM → DSIR importance resample of the survivors. Models are
    // trained on the UNfiltered corpus — selection must never feed back
    // into its own training set — and the oracle replays every stage.
    "q128_selection_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (tc, rc) = Dsir.trainTargetRawCounts(
        docs.withColumn("__is_en", col("lang") === lit("en")),
        "text", "__is_en", nBuckets = 512)
      val target = Dsir.modelFromCounts(tc)
      val raw = Dsir.modelFromCounts(rc)
      val gated = docs
        .withColumn("lang_pred", TextFunctions.langIdHeuristic(col("text")))
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .filter(col("lang_pred") === "en" && col("n_tokens") >= 20)
        .select("doc_id", "text", "source")
      // ONE feature pass scores CE and importance together; the perplexity
      // gate and the Gumbel draw then run over the tiny scored table
      val scored = Dsir.scoreAndCrossEntropy(gated, "doc_id", "text",
        Dsir.importanceWeights(target, raw), target)
      Dsir.gumbelTopK(
          scored.filter(col("ce_micro").isNotNull &&
            col("ce_micro") <= lit(5300000L)),
          "doc_id", "dsir_score", k = 100)
        .select("doc_id", "source", "dsir_score", "ce_micro")
        .orderBy("doc_id")
    }),

    // Cluster resolution: the transitive closure over q65's verified
    // near-dup pairs (a≈b, b≈c ⇒ one cluster), min-label propagation to a
    // fixpoint, every doc kept with its cluster id (= min doc id in the
    // component; singletons cluster to themselves). This is the stage that
    // turns PAIRS into the one-doc-per-group decision a dedup pipeline
    // actually ships.
    "q99_dedup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val pairs = minhashVerifiedPairs(docs)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id").join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"),
          (coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
            .as("is_canonical"))
        .orderBy("doc_id")
    }),

    // The same cluster resolution via the HIGH-DIAMETER resolver:
    // large-star/small-star contraction (O(log n) rounds regardless of
    // chain length), forced onto the distributed rounds (driverMaxEdges=0)
    // so the star fixpoint itself is what the oracle checks. Labels are
    // the same component minima as q99 by construction.
    "q140_dedup_clusters_stars" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val pairs = minhashVerifiedPairs(docs)
      val comps = Dedup.connectedComponentsStars(pairs, "id_a", "id_b",
          driverMaxEdges = 0L)
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id").join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"),
          (coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
            .as("is_canonical"))
        .orderBy("doc_id")
    }),

    // LEAKAGE-AWARE train/val split: the split draw keys on the q99
    // near-dup CLUSTER, so a doc and its near-twins land on one side —
    // the within-corpus analogue of q98's benchmark decontamination.
    // valFrac 0.125 is a power of two: `rate · 2⁶⁰` is one exact IEEE
    // multiply, replayed by the oracle's identical hash gate.
    "q105_cluster_split" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val pairs = minhashVerifiedPairs(docs)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val clustered = docs.select("doc_id").join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      Dedup.splitByCluster(clustered, "cluster", valFrac = 0.125)
        .orderBy("doc_id")
    }),

    // TOKEN SHARD EXPORT roundtrip — the data-loader tail as one oracled
    // chain: portable-hash tokenizer (ids < 2¹⁶) → balanced shard
    // assignment (q103's prefix sum) → flat little-endian u16 `.bin` files
    // on disk → read BACK through the engine's own `graft-clock` u16 source
    // → per-shard aggregates over what was actually WRITTEN. The oracle
    // recomputes the same numbers from the text alone, so a token lost,
    // duplicated, truncated, or byte-swapped anywhere in the write/read
    // chain breaks the hash match (the q95/q96 roundtrip discipline applied
    // to the training-shard sink).
    "q107_token_export" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(TextFunctions.normalizeForDedup(col("text")), " "),
            w => length(w) > 0).as("__ws"))
        .withColumn("__tids", transform(col("__ws"),
          w => pmod(HashFunctions.portableHash60(w), lit(65536L))))
        .withColumn("n_tokens", size(col("__tids")).cast("long"))
        .filter(col("n_tokens") > 0)
        .select("doc_id", "n_tokens", "__tids")
        // shardByTokens executes its input three times (quantile bounds,
        // bucket totals, result) — cache the tokenized docs per its
        // scaladoc so the md5 tokenizer runs once
        .cache()
      val sharded = Sampling.shardByTokens(docs, "doc_id", "n_tokens",
        targetTokensPerShard = 2000, nRanges = 8)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tokens-q107").toString
      Sampling.exportTokenShards(sharded, "shard", "doc_id", "__tids", dir)
      s.read.format("graft-clock")
        .option("format", "u16").option("channels", "1")
        .load(dir + "/*.bin")
        .select(regexp_extract(col("file"), "shard-(\\d+)\\.bin$", 1)
            .cast("long").as("shard"),
          col("samples")(0).cast("long").as("__tid"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_tokens"), sum("__tid").as("token_sum"),
          min("__tid").as("token_min"), max("__tid").as("token_max"))
        .orderBy("shard")
    }),

    // BLOCKLIST phrase matching (Aho–Corasick, graft.expressions
    // .BlocklistHits): whole-word multi-phrase hits over the normalized
    // corpus in ONE map-only scan per document, O(len + hits) regardless
    // of dictionary size — the curation stage between the q88 regex scrub
    // (a handful of patterns) and q98/q120 corpus decontamination. All
    // occurrences count, overlapping included ("batch batch batch" holds
    // two "batch batch"); the oracle is an independent padded position
    // scan (generate_series + substr), which is exactly the O(len·terms)
    // shape the automaton exists to beat.
    "q184_blocklist_hits" -> ((s, d) => {
      graft.operators.Blocklist.phraseHits(
          Tables.documents(s, d), "doc_id", "text", BlocklistTerms)
        .orderBy("doc_id", "term")
    }),

    // KMV sketch SET ALGEBRA (Beyer 2007, Sketch.kmvOverlap): pairwise
    // source-overlap estimates from per-source k-min sketches of the
    // 3-shingle vocabulary — union/intersection cardinality and Jaccard
    // WITHOUT touching raw data, the shard-overlap diagnostic that at
    // 100 TB runs on sketches alone (the exact answer re-scans both shards
    // per pair). The shingle universe makes every estimator branch live at
    // the gate scale (per-source vocabularies exceed k, sources genuinely
    // overlap); exact_inter rides along to show the error (the q117
    // discipline — dropped at production scale). All arithmetic is integer
    // or single-expression IEEE doubles, so the oracle replays it exactly.
    "q185_kmv_overlap" -> ((s, d) => {
      val k = 64
      val hs = Tables.documents(s, d)
        .select(col("source"),
          explode(TextFunctions.distinctShinglesFused(
            TextFunctions.normalizeForDedup(col("text")), 3)).as("__t"))
        .select(col("source"), HashFunctions.portableHash60(col("__t")).as("__h"))
        .distinct()
        .cache() // feeds the sketch build AND the exact-error column
      val sketches = hs.groupBy("source")
        .agg(SketchFunctions.kmvMinHashes(col("__h"), k).as("sk"))
      val exact = hs.select(col("source").as("key_a"), col("__h"))
        .join(hs.select(col("source").as("key_b"), col("__h")), Seq("__h"))
        .filter(col("key_a") < col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(count(lit(1)).as("exact_inter"))
      graft.operators.Sketch.kmvOverlap(sketches, "source", "sk", k)
        .join(exact, Seq("key_a", "key_b"), "left")
        .na.fill(0L, Seq("exact_inter"))
        .withColumnRenamed("key_a", "source_a")
        .withColumnRenamed("key_b", "source_b")
        .orderBy("source_a", "source_b")
    }),

    // k-CORE of the kNN similarity graph (Graphs.kCore, Seidman 1983):
    // 2 synchronous peel rounds at k = 4 — the dense-substructure filter
    // (every node has undirected degree ≥ 3 in a k=3 kNN graph, so k = 4
    // keeps exactly the nodes that are ALSO other nodes' neighbors, and
    // peeling cascades: ~500 → ~265 → ~46 nodes at the gate scale, live at
    // all three SFs — more rounds empty this graph, measured). Round count
    // is part of the semantics (the q173 LPA discipline); the oracle
    // unrolls the same two rounds.
    "q186_kcore" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.kCore(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst", k = 4, rounds = 2)
        .orderBy("node")
    }),

    // k-TRUSS peeling at k = 3 (edges in ≥ 1 triangle among surviving
    // edges), 2 synchronous rounds — the EDGE-cohesion companion to
    // q186's k-core; peeling cascades because removing 0-support edges
    // destroys the triangles of others. Round count is part of the
    // semantics (the q186 discipline); the oracle unrolls the same two
    // rounds.
    "q236_ktruss" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.kTruss(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst", k = 3, rounds = 2)
        .orderBy("a", "b")
    }),

    // PERSONALIZED PageRank (Graphs.personalizedPageRank, Haveliwala
    // 2002): 3 rounds from seeds {0, 1} over the kNN graph — graph
    // expansion from known-good examples, all-BIGINT trajectory (the
    // q157 discipline with the teleport restricted to seeds). Top 25 by
    // (rank desc, node) keeps the output assertive about the ordering.
    "q187_ppr_expansion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val knn = Similarity.bruteForceTopK(emb,
        emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
      Graphs.personalizedPageRank(knn.select(col("query_id").as("src"),
          col("vec_id").as("dst")), "src", "dst",
          seeds = Seq(0L, 1L), iterations = 3)
        .orderBy(col("rank_fx").desc, col("node")).limit(25)
    }),

    // BLOCKLIST span EXCISION (Blocklist.scrubbed): every matched term
    // span replaced by a normalized-alphabet mask, overlapping matches
    // merged — the q115 span-removal discipline applied to dictionary
    // matches (excise the phrase, keep the document). Output = only the
    // docs the scrub CHANGED; the oracle rebuilds each document
    // character-by-character from coverage islands — independent
    // mechanics (position scan + lag window), not an automaton replay.
    "q188_blocklist_scrub" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.normalizeForDedup(col("text")).as("__x"),
          graft.operators.Blocklist.scrubbed(col("text"), BlocklistTerms,
            "xxx").as("scrubbed"))
        .filter(col("scrubbed") =!= col("__x"))
        .select("doc_id", "scrubbed")
        .orderBy("doc_id")
    }),

    // Token-window CHUNKING (Sampling.chunkByTokens): overlapping
    // maxTokens=32/overlap=8 windows per document — the long-document
    // splitting stage (RAG retrieval units, context-bounded examples),
    // the inverse of q91's packing. Pure map-only Column algebra: at
    // 100 TB chunking is ZERO shuffles. The corpus median of 56 words
    // exercises multi-chunk docs AND the covered-tail suppression rule
    // at every scale.
    "q189_chunk_by_tokens" -> ((s, d) => {
      Sampling.chunkByTokens(Tables.documents(s, d), "doc_id", "text",
          maxTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // DATA-QUALITY constraint suite (operators.Checks — the Deequ
    // component): row-level checks fuse into ONE lineitem scan (not-null
    // pass, range/accepted with real violations), uniqueness one hash
    // aggregate each (orders PK passes, lineitem FK fails by design),
    // referential integrity one counted anti-join (passes). The report
    // shape (check, column, n_rows, n_violations, pass) is what ingestion
    // gates threshold on.
    "q190_quality_checks" -> ((s, d) => {
      import graft.operators.Checks
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      Checks.suite(
          Checks.report(li, Seq(
            Checks.NotNull("l_orderkey"),
            Checks.InRange("l_quantity", 1, 45),
            Checks.Accepted("l_returnflag", Seq("A", "N")))),
          Checks.unique(li, "l_orderkey"),
          Checks.unique(ord, "o_orderkey"),
          Checks.refIntegrity(li, "l_orderkey", ord, "o_orderkey"))
        .withColumn("pass", col("pass").cast("long"))
        .orderBy("check", "column")
    }),

    // INCREMENTAL data-quality monitoring (streaming/StreamingChecks):
    // lineitem lands in two parquet waves, each drained into a per-file
    // count state keyed (src_file, check, column); the rolled-up report
    // must equal q190's one-shot row-level subset — the oracle IS that
    // SQL verbatim. Row-level checks only, honestly: uniqueness and
    // referential integrity are not per-file-decomposable (a duplicate
    // spanning two files is invisible to either file alone).
    "q191_checks_incremental" -> ((s, d) => {
      import graft.operators.Checks
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val root = tempIndexDir("graft-checks-q191")
      val (src, state, ckpt) =
        (root + "/src", root + "/state", root + "/ckpt")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("l_quantity",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("l_returnflag",
          org.apache.spark.sql.types.StringType)))
      val checks = Seq(Checks.NotNull("l_orderkey"),
        Checks.InRange("l_quantity", 1, 45),
        Checks.Accepted("l_returnflag", Seq("A", "N")))
      li.filter(col("l_orderkey") % 2 === 0).write.mode("append").parquet(src)
      graft.streaming.StreamingChecks.reportDrain(s, src, state, ckpt,
        checks, schema)
      li.filter(col("l_orderkey") % 2 === 1).write.mode("append").parquet(src)
      graft.streaming.StreamingChecks.reportDrain(s, src, state, ckpt,
        checks, schema)
      graft.streaming.StreamingChecks.loadReport(s, state)
        .withColumn("pass", col("pass").cast("long"))
        .orderBy("check", "column")
    }),

    // ROUND-10 CURATION COMPOSITE (the q100/q172/q180 discipline applied
    // to this round's operators): blocklist gate (flag == 0 survivors) →
    // token-window chunking → exact chunk dedup (portable fingerprint,
    // keep-first by (doc_id, chunk_id)) → dense chunk ids — one oracled
    // chain pinning the interfaces between Blocklist.flag,
    // Sampling.chunkByTokens, keep-first dedup, and
    // Layout.assignDenseIds as a UNIT, not pairwise.
    "q195_curation_composite" -> ((s, d) => {
      val gateTerms = Seq("batch batch", "slow join", "window window",
        "customer data")
      val survivors = graft.operators.Blocklist.flag(
          Tables.documents(s, d).select("doc_id", "text"), "text", gateTerms)
        .filter(col("n_blocked_hits") === 0L)
        .select("doc_id", "text")
      val chunks = Sampling.chunkByTokens(survivors, "doc_id", "text",
          maxTokens = 32, overlap = 8)
        .withColumn("fp", TextFunctions.portableFingerprint(col("chunk_text")))
      val kept = chunks
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")
            .orderBy("doc_id", "chunk_id")))
        .filter(col("__rk") === 1).drop("__rk")
      graft.sources.Layout.assignDenseIds(
          kept.select("doc_id", "chunk_id", "n_tokens", "fp"),
          Seq("doc_id", "chunk_id"), numRanges = 16)
        .orderBy("row_id")
    }),

    // COLUMN PROFILE (Checks.profile — the catalog/discovery companion):
    // per-column nulls + exact distinct cardinality for every lineitem
    // column in one aggregation pass (multi-countDistinct plans as one
    // scan + k-way expand; the 100 TB variant swaps in
    // approx_count_distinct/KMV per column, documented on the operator).
    "q192_column_profile" -> ((s, d) => {
      graft.operators.Checks.profile(Tables.lineitem(s, d))
        .orderBy("column")
    }),

    // WITHIN-doc repetition screen (Gopher filters, Rae et al. 2021 A1.1):
    // top 2-gram char coverage + duplicated 5-gram char coverage per doc,
    // exact integer per-mille — the within-document complement of the
    // cross-corpus span dedup (q98/q120). Map-only gram expansion, two
    // (doc, gram) aggregates, argmax tie broken by largest gram.
    "q258_repetition_screen" -> ((s, d) => {
      QualityFilter.repetitionScreen(Tables.documents(s, d), "doc_id",
          "text", topN = 2, dupN = 5)
        .orderBy("doc_id")
    })
  )

  /** q184's dictionary: phrases present in the synthetic corpus (including
    * self-overlapping ones and a single word) plus one guaranteed absent.
    */
  private val BlocklistTerms = Seq(
    "batch batch", "slow join", "window window", "fast key order",
    "customer data", "the", "quantum flux capacitor")

  /** The q65 MinHash→LSH→verified-pairs pipeline (shared by q65 and the
    * q99 cluster-resolution chain). Fused signature kernel — zero shuffles;
    * value-identical to the composed shape the oracle replays
    * (TextSignaturesSpec). Verification joins the HASHED shingle-set table
    * ONCE — pairs explode into (pair, side) rows and regroup — because a
    * two-sided join would re-evaluate the whole shingle aggregate per side
    * (exchange reuse does not fire across the differently-projected join
    * branches; measured 2× the verify cost).
    */
  private def minhashVerifiedPairs(docs: DataFrame): DataFrame = {
    val sigs = Dedup.minhashSignaturesFused(docs, "doc_id", "text",
      numHashes = 32, shingleN = 3)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 4)
    val sh = Dedup.withHashedShingles(docs, "doc_id", "text", n = 3)
    val sides = cands.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("doc_id"))
    sides.join(sh, "doc_id")
      .groupBy("id_a", "id_b")
      .agg(
        max(when(col("doc_id") === col("id_a"), col("shingle_hashes"))).as("sh_a"),
        max(when(col("doc_id") === col("id_b"), col("shingle_hashes"))).as("sh_b"))
      .withColumn("jaccard", round(Dedup.jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
  }

  /** DuckDB fragment: the q65 MinHash→LSH→candidate CTE chain (norm …
    * gsets), shared by the q65 pair oracle and the q99 cluster oracle.
    * Seed member = (h1 + seed·h2) mod 2⁶⁰, written piecewise so every
    * intermediate fits checked 64-bit integers (mirror of
    * `HashFunctions.portableSeededHash`).
    */
  /** DuckDB fragment: the corpus kNN similarity graph — top-3
    * rounded-cosine neighbors per embedding — as an `edges(src, dst)` CTE
    * chain (identical text to the q157/q163 oracles' inlined form). */
  private lazy val knnEdgesCtesSql: String =
    s"""corp AS (
       SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     scored AS (
       SELECT q.vec_id AS src, e.vec_id AS dst,
         round(list_dot_product(e.v, q.v)
           / (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
       FROM corp e CROSS JOIN corp q WHERE e.vec_id <> q.vec_id),
     edges AS MATERIALIZED (
       SELECT src, dst FROM (
         SELECT *, row_number() OVER (
           PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         FROM scored) WHERE rn <= 3)"""

  /** DuckDB fragment: 4 unrolled synchronous label-propagation rounds over
    * the undirected `edges` CTE — [[graft.operators.Graphs.labelPropagation]]'s
    * pinned semantics (neighbor-mode labels, ties to the smallest label).
    * Exposes `und(a, b)` and the final labels as `r4(node, community)`. */
  private lazy val lpaRoundsCtesSql: String =
    s"""und AS MATERIALIZED (
       SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM edges WHERE src <> dst),
     sym AS MATERIALIZED (
       SELECT a AS node, b AS nbr FROM und
       UNION ALL SELECT b, a FROM und),
     l0 AS MATERIALIZED (
       SELECT DISTINCT node, node AS community FROM sym),
     ${(1 to 4).map { k =>
      s"""r$k AS MATERIALIZED (
       SELECT node, community FROM (
         SELECT node, community, row_number() OVER (
           PARTITION BY node ORDER BY c DESC, community) AS rn
         FROM (
           SELECT s.node, l.community, CAST(count(*) AS BIGINT) AS c
           FROM sym s JOIN ${if (k == 1) "l0" else s"r${k - 1}"} l
             ON l.node = s.nbr
           GROUP BY s.node, l.community))
       WHERE rn = 1)"""
    }.mkString(",\n")}"""

  private lazy val minhashPairCtesSql: String = minhashPairCtes("documents")

  /** The q65 MinHash→LSH CTE chain over an arbitrary `(doc_id, text)`
    * source relation (q175 feeds it the probe-augmented corpus). */
  private def minhashPairCtes(src: String): String =
    s"""norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS words
         FROM $src),
       grams AS (
         SELECT doc_id, array_to_string(words[i:i+2], ' ') AS s
         FROM norm, unnest(generate_series(1, len(words) - 2)) u(i)),
       hashed AS (
         SELECT doc_id, s, ${pHash60("s")} AS h1, ${pHash60b("s")} AS h2
         FROM grams),
       sigs AS (
         SELECT doc_id, seed,
           min((h1 + ((seed * (h2 >> 30)) % 1073741824) * 1073741824
                + seed * (h2 & 1073741823)) & 1152921504606846975) AS mh
         FROM hashed, unnest(generate_series(0, 31)) t(seed)
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, seed // 4 AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
         FROM sigs GROUP BY doc_id, seed // 4),
       sized AS (
         SELECT band, bucket FROM bands GROUP BY band, bucket
         HAVING count(*) BETWEEN 2 AND 10000),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN sized USING (band, bucket)
           JOIN bands b USING (band, bucket)
         WHERE a.doc_id < b.doc_id),
       gsets AS (
         SELECT doc_id, list_distinct(list(h1)) AS g FROM hashed GROUP BY doc_id)"""

  /** DuckDB fragment: verified-pair select over [[minhashPairCtesSql]] (no
    * ORDER BY — callers add their own or wrap it as a CTE). */
  private lazy val minhashPairSelectSql: String =
    """SELECT * FROM (
         SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
         FROM cand c JOIN gsets a ON c.id_a = a.doc_id
           JOIN gsets b ON c.id_b = b.doc_id)
       WHERE jaccard >= 0.5"""

  /** Fresh scratch directory for a disk-materialized index (q136/q139),
    * deleted by a JVM shutdown hook: the probe plan scans it LAZILY, so
    * deleting eagerly inside the query would break execution (and an
    * eager collect would hide the real probe plan from PlanAudit) —
    * at-exit cleanup keeps the plan honest and leaves nothing behind
    * after a Verify/Bench run.
    */
  private def tempIndexDir(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      val p = new org.apache.hadoop.fs.Path(root.toString)
      p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        .delete(p, true)
      ()
    }
    root.toString + "/idx"
  }

  /** q149's full inline BM25 computation — also the oracle for the
    * materialized-index probe (q154): index ≡ inline is the contract. */
  private def bm25OracleSql: String =
    s"""WITH qs(query_id, qtext) AS (
         VALUES (CAST(1 AS BIGINT), 'hash join merge batch'),
           (CAST(2 AS BIGINT), 'window agg stream'),
           (CAST(3 AS BIGINT), 'fast scan filter column'),
           (CAST(4 AS BIGINT), 'vector sort query table')),
       norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       toks AS (
         SELECT doc_id, w
         FROM (SELECT doc_id, unnest(ws) AS w FROM norm) WHERE len(w) > 0),
       dl AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         FROM toks GROUP BY doc_id),
       stats AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(coalesce(dl.dl, 0)) AS BIGINT) AS tot
         FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id),
       qterms AS (
         SELECT DISTINCT query_id, w
         FROM (SELECT query_id,
                 unnest(regexp_split_to_array(${normSql("qtext")}, ' ')) AS w
               FROM qs)
         WHERE len(w) > 0),
       tf AS (
         SELECT t.w, t.doc_id, CAST(count(*) AS BIGINT) AS tf
         FROM toks t JOIN (SELECT DISTINCT w FROM qterms) q USING (w)
         GROUP BY 1, 2),
       idf AS (
         SELECT w, CAST(floor(CAST(1000000.0 AS DOUBLE) *
             ln(CAST(1.0 AS DOUBLE) +
               (CAST(s.n - f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
               (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))) AS BIGINT)
           AS idf_micro
         FROM (SELECT w, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY w) f, stats s),
       contrib AS (
         SELECT tf.w, tf.doc_id,
           CAST(floor(CAST(i.idf_micro AS DOUBLE) *
             (CAST(tf.tf AS DOUBLE) *
               (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
             (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
               (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) /
                 (CAST(s.tot AS DOUBLE) / CAST(s.n AS DOUBLE)))))
             AS BIGINT) AS contrib
         FROM tf JOIN idf i USING (w) JOIN dl USING (doc_id), stats s),
       scores AS (
         SELECT q.query_id, c.doc_id,
           CAST(sum(c.contrib) AS BIGINT) AS score_micro
         FROM qterms q JOIN contrib c USING (w)
         GROUP BY 1, 2),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn
         FROM scores)
       SELECT query_id, CAST(rn AS BIGINT) AS "rank", doc_id, score_micro
       FROM ranked WHERE rn <= 10 ORDER BY query_id, "rank""""

  /** DuckDB fragment: the dedup text normalization (must mirror
    * `TextFunctions.normalizeForDedup` exactly). */
  private def normSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"

  /** DuckDB CTE chain replaying `nRounds` of BPE training (q137/q138):
    * `w0` is the symbolized word-type table in the `|a||b||c|`
    * representation `Vocab.symbolized` documents; round r = adjacent-pair
    * counts (`p_r`) → deterministic argmax (`m_r`, ties on the pair) →
    * literal-replace apply (`w_r`). SQL `replace` and Spark's
    * `StringReplace` both scan left-to-right non-overlapping and continue
    * AFTER each replacement, so every round replays bit-for-bit.
    */
  private def bpeCtes(nRounds: Int): String = {
    val base = s"""norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       wt AS (
         SELECT w, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(ws) AS w FROM norm)
         WHERE len(w) >= 2 GROUP BY w),
       w0 AS (
         SELECT '|' || array_to_string(list_transform(
             generate_series(1, len(w)), i -> substr(w, i, 1)), '||')
           || '|' AS s, freq
         FROM wt)"""
    val rounds = (1 to nRounds).map { r =>
      s"""p$r AS (
         SELECT t[i] AS l, t[i+1] AS r2, CAST(sum(freq) AS BIGINT) AS c
         FROM (SELECT string_split(trim(s, '|'), '||') AS t, freq
               FROM w${r - 1}),
           unnest(generate_series(1, len(t) - 1)) u(i)
         GROUP BY 1, 2),
       m$r AS (
         SELECT $r AS step, l, r2, c FROM p$r
         ORDER BY c DESC, l, r2 LIMIT 1),
       w$r AS (
         SELECT replace(s, '|' || m.l || '||' || m.r2 || '|',
             '|' || m.l || m.r2 || '|') AS s, freq
         FROM w${r - 1}, m$r m)"""
    }.mkString(",\n", ",\n", "")
    base + rounds
  }

  /** DuckDB CTE chain replaying `nRounds` of BYTE-LEVEL BPE training
    * (q181/q182): same round machinery as [[bpeCtes]], but `bw0`
    * symbolizes each RAW whitespace-split word type as its UTF-8 bytes in
    * 2-hex-digit symbols (`hex()` is uppercase 2-digits-per-byte in both
    * engines, so `Vocab.symbolizedHexBytes` and this chain agree
    * bit-for-bit; a merged symbol is the concatenated hex of its byte
    * span). Tables are `b`-prefixed so the chain composes beside the
    * char-level one.
    */
  private def byteBpeCtes(nRounds: Int): String = {
    val base = s"""bnorm AS (
         SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
         FROM documents),
       bwt AS (
         SELECT w, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(ws) AS w FROM bnorm)
         WHERE octet_length(encode(w)) >= 2 GROUP BY w),
       bw0 AS (
         SELECT '|' || array_to_string(list_transform(
             generate_series(1, octet_length(encode(w))),
             i -> substr(hex(w), 2*i-1, 2)), '||')
           || '|' AS s, freq
         FROM bwt)"""
    val rounds = (1 to nRounds).map { r =>
      s"""bp$r AS (
         SELECT t[i] AS l, t[i+1] AS r2, CAST(sum(freq) AS BIGINT) AS c
         FROM (SELECT string_split(trim(s, '|'), '||') AS t, freq
               FROM bw${r - 1}),
           unnest(generate_series(1, len(t) - 1)) u(i)
         GROUP BY 1, 2),
       bm$r AS (
         SELECT $r AS step, l, r2, c FROM bp$r
         ORDER BY c DESC, l, r2 LIMIT 1),
       bw$r AS (
         SELECT replace(s, '|' || m.l || '||' || m.r2 || '|',
             '|' || m.l || m.r2 || '|') AS s, freq
         FROM bw${r - 1}, bm$r m)"""
    }.mkString(",\n", ",\n", "")
    base + rounds
  }

  /** DuckDB CTE chain replaying `nRounds` of WordPiece training
    * (q147/q148): `w0` symbolizes each word type with the `##` continuation
    * marking (`abc` → `|a||##b||##c|`, ALL word types kept — 1-char words
    * and fully-merged words still feed the unit-count denominators). Round
    * r = unit counts (`u_r`) + adjacent-pair counts (`p_r`) → argmax on the
    * likelihood score `c/(cl·cr)` as one IEEE double multiply+divide over
    * exact BIGINTs (ties on the pair) → literal-replace apply fusing
    * `l + strip##(r)` (`w_r`). Same replace semantics argument as
    * [[bpeCtes]].
    */
  private def wpCtes(nRounds: Int): String = {
    val base = s"""norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       wt AS (
         SELECT w, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(ws) AS w FROM norm)
         WHERE len(w) > 0 GROUP BY w),
       w0 AS MATERIALIZED (
         SELECT '|' || array_to_string(list_transform(
             generate_series(1, len(w)), i -> CASE WHEN i = 1
               THEN substr(w, 1, 1) ELSE '##' || substr(w, i, 1) END), '||')
           || '|' AS s, freq
         FROM wt)"""
    val rounds = (1 to nRounds).map { r =>
      s"""u$r AS (
         SELECT u, CAST(sum(freq) AS BIGINT) AS uc
         FROM (SELECT unnest(string_split(trim(s, '|'), '||')) AS u, freq
               FROM w${r - 1})
         GROUP BY u),
       p$r AS (
         SELECT t[i] AS l, t[i+1] AS r2, CAST(sum(freq) AS BIGINT) AS c
         FROM (SELECT string_split(trim(s, '|'), '||') AS t, freq
               FROM w${r - 1}),
           unnest(generate_series(1, len(t) - 1)) uu(i)
         GROUP BY 1, 2),
       m$r AS MATERIALIZED (
         SELECT $r AS step, p.l, p.r2, p.c, cl.uc AS cl, cr.uc AS cr
         FROM p$r p JOIN u$r cl ON cl.u = p.l JOIN u$r cr ON cr.u = p.r2
         ORDER BY CAST(p.c AS DOUBLE) /
             (CAST(cl.uc AS DOUBLE) * CAST(cr.uc AS DOUBLE)) DESC,
           p.l, p.r2
         LIMIT 1),
       w$r AS MATERIALIZED (
         SELECT replace(s, '|' || m.l || '||' || m.r2 || '|',
             '|' || m.l || CASE WHEN m.r2 LIKE '##%' THEN substr(m.r2, 3)
               ELSE m.r2 END || '|') AS s, freq
         FROM w${r - 1}, m$r m)"""
    }.mkString(",\n", ",\n", "")
    base + rounds
  }

  /** DuckDB CTE chain for the unigram-LM queries (q143/q144): seed vocab
    * (top-200 substrings of len 2..5 + ALL single chars) on the micro-nat
    * grid, then the Viterbi lattice DP unrolled over suffix lengths
    * 1..`dpLevels` (corpus max word length is 8; 12 is slack — a longer
    * word would drop out of the DP and fail the row compare LOUDLY), a
    * per-position argmax with the (score, longer token, lexicographic)
    * tie rule, and the chosen path rebuilt by a plain recursive walk.
    * Mirrors `Unigram.seedModel`/`viterbiSegment` exactly.
    */
  private def unigramCtes(dpLevels: Int): String = {
    val base = s"""norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       words0 AS MATERIALIZED (
         SELECT doc_id, i AS wi, ws[i] AS w
         FROM norm, unnest(generate_series(1, len(ws))) u(i)
         WHERE len(ws[i]) > 0),
       wt AS MATERIALIZED (
         SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words0 GROUP BY w),
       subs AS (
         SELECT substr(w, p, l) AS token
         FROM (SELECT w FROM words0),
           unnest(generate_series(2, 5)) ll(l),
           unnest(generate_series(1, len(w) - l + 1)) pp(p)
         WHERE len(w) >= l),
       scount AS (
         SELECT token, CAST(count(*) AS BIGINT) AS c
         FROM subs GROUP BY token),
       seeds AS (
         SELECT token, c FROM scount ORDER BY c DESC, token LIMIT 200),
       chars AS (
         SELECT substr(w, p, 1) AS token, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT w FROM words0),
           unnest(generate_series(1, len(w))) pp(p)
         GROUP BY 1),
       vocab0 AS (
         SELECT token, c FROM seeds UNION ALL SELECT token, c FROM chars),
       tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab0),
       vocab AS MATERIALIZED (
         SELECT v.token AS t,
           CAST(floor(1000000.0 * ln(v.c / tot.t)) AS BIGINT) AS wt
         FROM vocab0 v, tot)"""
    base + unigramDpCtes("vocab", "", dpLevels)
  }

  /** The Viterbi lattice DP + path walk over `wt`, parameterized by the
    * vocab CTE (so an EM round can re-run it under a renormalized model,
    * q145) and a table-name prefix. Each level is MATERIALIZED — plain
    * chained CTEs re-execute their predecessor per reference, which is
    * exponential in levels under DuckDB's default inlining.
    */
  private def unigramDpCtes(vocabCte: String, p: String,
                            dpLevels: Int): String = {
    val b0 = s""",
       ${p}b0 AS MATERIALIZED (
         SELECT w, len(w) + 1 AS pos, CAST(0 AS BIGINT) AS s,
           CAST(NULL AS VARCHAR) AS tok
         FROM wt)"""
    val levels = (1 to dpLevels).map { i =>
      s"""${p}b$i AS MATERIALIZED (
         SELECT * FROM ${p}b${i - 1}
         UNION ALL
         SELECT w, pos, s, tok FROM (
           SELECT n.w, n.pos, v.wt + b.s AS s, v.t AS tok,
             row_number() OVER (PARTITION BY n.w, n.pos
               ORDER BY v.wt + b.s DESC, len(v.t) DESC, v.t) AS rn
           FROM (SELECT w, len(w) - $i + 1 AS pos FROM wt
                 WHERE len(w) >= $i) n
             JOIN $vocabCte v ON len(v.t) <= $i
               AND v.t = substr(n.w, n.pos, len(v.t))
             JOIN ${p}b${i - 1} b ON b.w = n.w AND b.pos = n.pos + len(v.t)
         ) WHERE rn = 1)"""
    }.mkString(",\n", ",\n", "")
    val tail = s""",
       ${p}choices AS MATERIALIZED (
         SELECT w, pos, tok FROM ${p}b$dpLevels WHERE tok IS NOT NULL),
       ${p}walk(w, pos, tok) AS (
         SELECT w, pos, tok FROM ${p}choices WHERE pos = 1
         UNION ALL
         SELECT c.w, c.pos, c.tok
         FROM ${p}walk k JOIN ${p}choices c
           ON c.w = k.w AND c.pos = k.pos + len(k.tok))"""
    b0 + levels + tail
  }

  /** Shared CTE prefix of the q114/q115 span-dedup oracles: planted-copy
    * corpus → normalized token arrays → 0-indexed 8-token window hashes →
    * windows recurring in ≥2 distinct docs → gaps-and-islands merge
    * (`grp` carries (doc_id, pos, island)). Mirrors
    * `Dedup.repeatedSpans(n = 8, minDf = 2)`.
    */
  private lazy val spanCtes: String =
    s"""WITH alldocs AS (
         SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         UNION ALL
         SELECT CAST(doc_id + 200000 AS BIGINT), text FROM documents
         WHERE doc_id < 10),
       norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS words
         FROM alldocs),
       grams AS (
         SELECT doc_id, i - 1 AS pos,
           ${pHash60("array_to_string(words[i:i+7], ' ')")} AS h
         FROM norm, unnest(generate_series(1, len(words) - 7)) u(i)),
       dup AS (SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       flagged AS (SELECT doc_id, pos FROM grams JOIN dup USING (h)),
       marked AS (
         SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + 8) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS newi
         FROM flagged),
       grp AS (
         SELECT doc_id, pos, sum(newi) OVER (
           PARTITION BY doc_id ORDER BY pos) AS island
         FROM marked)"""

  /** DuckDB fragment: the portable 60-bit hash
    * (`HashFunctions.portableHash60`). */
  private def pHash60(c: String): String =
    s"CAST(concat('0x', substr(md5($c), 1, 15)) AS BIGINT)"

  /** DuckDB fragment: the second full-width 60-bit slice
    * (`HashFunctions.portableHash60b`). */
  private def pHash60b(c: String): String =
    s"CAST(concat('0x', substr(md5($c), 17, 15)) AS BIGINT)"

  /** DuckDB fragment: `Sampling.acceptGate` — accept iff the tagged portable
    * hash of the id, cast to double, is below `rate · 2⁶⁰`. `rateSql` must
    * reproduce the Spark rate expression's IEEE arithmetic order exactly.
    */
  private def acceptSql(idCol: String, tag: String, rateSql: String): String =
    s"CAST(${pHash60(s"concat('$tag:', CAST($idCol AS VARCHAR))")} AS DOUBLE)" +
      s" < ($rateSql) * 1152921504606846976.0"

  /** DuckDB fragment: the q126 JL planes as literal DOUBLE[] rows —
    * generated from the SAME `VectorFunctions.hyperplanes(16, 64, 7)` the
    * query uses, so the oracle replays the exact projection (the planes
    * are ±1, so the literals are exact).
    */
  private lazy val jlPlanesSql: String =
    VectorFunctions.hyperplanes(nBits = 16, dim = 64, seed = 7).zipWithIndex
      .map { case (p, b) =>
        s"SELECT $b AS b, ${p.map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")}::DOUBLE[] AS plane"
      }
      .mkString(" UNION ALL ")

  /** Shared CTE prefix of the q124/q125 DSIR oracles: normalized token
    * arrays → hashed {uni,bi}gram feature stream (multiplicity kept) →
    * 512-bucket grid, mirroring `Dsir.featureBuckets` / `trainNgramModel`:
    * bucket probability = add-one-smoothed count on the 10⁻⁹ integer grid,
    * clamped ≥ 1. `tc`/`tp` are the en-target model counts/probs, `rc`/`rp`
    * the raw-corpus ones.
    */
  private lazy val dsirCtes: String =
    s"""WITH norm AS (
         SELECT doc_id, lang, regexp_split_to_array(${normSql("text")}, ' ')
           AS ws
         FROM documents),
       feats AS (
         SELECT doc_id, lang, CAST(${pHash60("w")} % 512 AS INTEGER) AS b
         FROM (
           SELECT doc_id, lang, unnest(ws) AS w FROM norm
           UNION ALL
           SELECT n.doc_id, n.lang, n.ws[i] || ' ' || n.ws[i+1] AS w
           FROM norm n, unnest(generate_series(1, len(n.ws) - 1)) u(i))
         WHERE len(w) > 0),
       grid AS (
         SELECT CAST(i AS INTEGER) AS b
         FROM unnest(generate_series(0, 511)) t(i)),
       tc AS (
         SELECT b, CAST(count(*) AS BIGINT) AS c
         FROM feats WHERE lang = 'en' GROUP BY b),
       rc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM feats GROUP BY b),
       tp AS (
         SELECT g.b, coalesce(tc.c, 0) + 1 AS c
         FROM grid g LEFT JOIN tc ON g.b = tc.b),
       rp AS (
         SELECT g.b, coalesce(rc.c, 0) + 1 AS c
         FROM grid g LEFT JOIN rc ON g.b = rc.b),
       tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tp),
       rt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM rp)"""

  /** DuckDB fragments: per-language stopword scores + the argmax CASE —
    * shared by q63 and q93 so the two oracles cannot desynchronize from
    * `TextFunctions.langIdHeuristic` independently. */
  private def langScoresSql(textCol: String): String =
    s"""len(regexp_extract_all($textCol,
        '(?i)\\b(the|and|of|to|a|in|is|it|that|for|on|with|as|was|are|at|be|this|by|an)\\b'))
          AS s_en,
        len(regexp_extract_all($textCol,
          '(?i)\\b(der|die|das|und|ist|nicht|ein|eine|mit|für)\\b')) AS s_de,
        len(regexp_extract_all($textCol,
          '(?i)\\b(le|la|les|et|est|une|des|dans|pour|que)\\b')) AS s_fr,
        len(regexp_extract_all($textCol,
          '(?i)\\b(el|la|los|las|es|una|por|con|para|como)\\b')) AS s_es"""

  private val langPredSql: String =
    """CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         ELSE (SELECT max(x.l) FROM (VALUES (s_en, 'en'), (s_de, 'de'),
               (s_fr, 'fr'), (s_es, 'es')) AS x(s, l)
               WHERE x.s = greatest(s_en, s_de, s_fr, s_es)) END"""

  // SimHash bit-votes and bit-packing, one term per signature bit — mirrors
  // Dedup.simhashSignatures (60 portable bits).
  private val simhashVoteSql: String = (0 until Dedup.SimhashBits)
    .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
    .mkString(", ")
  private val simhashPackSql: String = (0 until Dedup.SimhashBits)
    .map(i => s"CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
    .mkString(" + ")
  // One equality per block — derived from the SAME constants as
  // Dedup.simhashNearDup's banding (nBands default 4) so a width change
  // cannot silently desynchronize query and oracle.
  private val simhashBlockSql: String = {
    val nBands = 4
    val blockBits = Dedup.SimhashBits / nBands
    val mask = (1L << blockBits) - 1
    (0 until nBands)
      .map(i => s"((a.sh >> ${i * blockBits}) & $mask) = " +
        s"((b.sh >> ${i * blockBits}) & $mask)")
      .mkString(" OR ")
  }

  val oracles: Map[String, String] = Map(
    "q64_fingerprint" ->
      s"""WITH norm AS (SELECT doc_id, ${normSql("text")} AS t FROM documents)
       SELECT ${pHash60("t")} AS fp, count(*) AS n_docs,
         min(doc_id) AS keeper_id
       FROM norm GROUP BY 1 ORDER BY keeper_id""",
    "q65_minhash_lsh" ->
      s"""WITH $minhashPairCtesSql
       $minhashPairSelectSql ORDER BY id_a, id_b""",
    // Both blocking families replayed (the q65 and q198 oracle
    // constructions verbatim at the shared 0.5 gate), canonical-pair
    // union, recursive-CTE reachability for the component minima.
    "q208_entity_resolution" ->
      s"""WITH RECURSIVE $minhashPairCtesSql,
       lshp AS ($minhashPairSelectSql),
       snnorm AS (
         SELECT doc_id, text,
           substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
             AS k
         FROM documents),
       snpos AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS p
                 FROM snnorm),
       snwords AS (
         SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS w
         FROM documents),
       sngrams AS (
         SELECT doc_id,
           list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> array_to_string(w[i:i+2], ' '))) AS g
         FROM snwords),
       snpairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM snpos a JOIN snpos b ON b.p - a.p BETWEEN 1 AND 10),
       snp AS (
         SELECT id_a, id_b FROM (
           SELECT p.id_a, p.id_b,
             round(CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) > 0
               THEN CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
                    / len(list_distinct(list_concat(ga.g, gb.g)))
               ELSE 0.0 END, 4) AS jaccard
           FROM snpairs p JOIN sngrams ga ON ga.doc_id = p.id_a
             JOIN sngrams gb ON gb.doc_id = p.id_b)
         WHERE jaccard >= 0.5),
       allp AS (
         SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM lshp
         UNION
         SELECT least(id_a, id_b), greatest(id_a, id_b) FROM snp),
       eredges AS (
         SELECT a, b FROM allp UNION SELECT b, a FROM allp),
       erreach(n, m) AS (
         SELECT a, b FROM eredges
         UNION
         SELECT r.n, e.b FROM erreach r JOIN eredges e ON r.m = e.a),
       ercomp AS (
         SELECT n AS did, least(min(m), n) AS entity FROM erreach GROUP BY n),
       ersizes AS (SELECT entity, CAST(count(*) AS BIGINT) AS c
                   FROM ercomp GROUP BY 1)
       SELECT p.did AS doc_id, p.entity AS entity_id, s.c AS n_members,
         p.did = p.entity AS is_canonical
       FROM ercomp p JOIN ersizes s ON s.entity = p.entity
       ORDER BY doc_id""",
    "q99_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtesSql,
       pairs AS ($minhashPairSelectSql),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(n, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       comp AS (
         SELECT n AS did, least(min(m), n) AS cluster FROM reach GROUP BY n)
       SELECT d.doc_id,
         coalesce(c.cluster, d.doc_id) AS cluster,
         coalesce(c.cluster, d.doc_id) = d.doc_id AS is_canonical
       FROM documents d LEFT JOIN comp c ON d.doc_id = c.did
       ORDER BY d.doc_id""",
    // identical closure to q99 — the star resolver must land on the same
    // component minima the recursive reachability computes
    "q140_dedup_clusters_stars" ->
      s"""WITH RECURSIVE $minhashPairCtesSql,
       pairs AS ($minhashPairSelectSql),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(n, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       comp AS (
         SELECT n AS did, least(min(m), n) AS cluster FROM reach GROUP BY n)
       SELECT d.doc_id,
         coalesce(c.cluster, d.doc_id) AS cluster,
         coalesce(c.cluster, d.doc_id) = d.doc_id AS is_canonical
       FROM documents d LEFT JOIN comp c ON d.doc_id = c.did
       ORDER BY d.doc_id""",
    "q105_cluster_split" ->
      s"""WITH RECURSIVE $minhashPairCtesSql,
       pairs AS ($minhashPairSelectSql),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(n, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       comp AS (
         SELECT n AS did, least(min(m), n) AS cluster FROM reach GROUP BY n),
       clustered AS (
         SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.did)
       SELECT doc_id, cluster,
         CASE WHEN ${acceptSql("cluster", "split", "(0.125::DOUBLE)")}
           THEN 'val' ELSE 'train' END AS split
       FROM clustered ORDER BY doc_id""",
    "q107_token_export" ->
      s"""WITH toks AS (
         SELECT doc_id,
           list_filter(regexp_split_to_array(${normSql("text")}, ' '),
             w -> w <> '') AS ws
         FROM documents),
       counted AS (
         SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_tokens
         FROM toks WHERE len(ws) > 0),
       cum AS (
         SELECT doc_id, ws,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
             AS BIGINT) // 2000 AS shard
         FROM counted),
       ids AS (
         SELECT shard, ${pHash60("u.w")} % 65536 AS tid
         FROM cum, unnest(ws) AS u(w))
       SELECT shard, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(tid) AS BIGINT) AS token_sum,
         CAST(min(tid) AS BIGINT) AS token_min,
         CAST(max(tid) AS BIGINT) AS token_max
       FROM ids GROUP BY shard ORDER BY shard""",
    "q66_simhash" ->
      s"""WITH norm AS (SELECT doc_id, ${normSql("text")} AS t FROM documents),
       words AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
       hashed AS (SELECT doc_id, ${pHash60("w")} AS h FROM words),
       votes AS (SELECT doc_id, $simhashVoteSql FROM hashed GROUP BY doc_id),
       sigs AS (SELECT doc_id, $simhashPackSql AS sh FROM votes),
       -- the Spark side's maxBucket=10000 cap cannot bind at oracle scale
       -- (500 docs), so the banded OR-join below is exactly equivalent
       cand AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         WHERE $simhashBlockSql)
       SELECT id_a, id_b, hamming FROM cand
       WHERE hamming <= 8 ORDER BY id_a, id_b""",
    "q74_winnow_overlap" ->
      s"""WITH alldocs AS (
         SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         UNION ALL
         SELECT CAST(doc_id + 200000 AS BIGINT), text FROM documents
         WHERE doc_id < 10),
       norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS words
         FROM alldocs),
       grams AS (
         SELECT doc_id, i AS pos, array_to_string(words[i:i+2], ' ') AS s
         FROM norm, unnest(generate_series(1, len(words) - 2)) u(i)),
       winm AS (
         SELECT doc_id, min(${pHash60("s")}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         FROM grams),
       fps AS (SELECT DISTINCT doc_id, fp FROM winm),
       sized AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 20),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_fingerprints
         FROM fps a JOIN sized USING (fp) JOIN fps b USING (fp)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b, shared_fingerprints FROM pairs
       WHERE shared_fingerprints >= 3 ORDER BY id_a, id_b""",
    "q114_span_dedup" -> s"""$spanCtes
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + 8 AS BIGINT) AS span_end
       FROM grp GROUP BY doc_id, island
       ORDER BY doc_id, span_start""",
    "q116_incremental_spans" -> s"""$spanCtes
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + 8 AS BIGINT) AS span_end
       FROM grp WHERE doc_id % 2 = 1
       GROUP BY doc_id, island
       ORDER BY doc_id, span_start""",
    "q115_span_removal" -> s"""$spanCtes,
       spans AS (
         SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
         FROM grp GROUP BY doc_id, island),
       toks AS (
         SELECT doc_id, i - 1 AS pos, words[i] AS wd
         FROM norm, unnest(generate_series(1, len(words))) u(i)),
       kept AS (
         SELECT t.doc_id, t.pos, t.wd FROM toks t
         WHERE NOT EXISTS (
           SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
             AND t.pos >= s.span_start AND t.pos < s.span_end)),
       agg AS (
         SELECT doc_id, count(*) AS n_kept,
           string_agg(wd, ' ' ORDER BY pos) AS clean_text
         FROM kept GROUP BY doc_id)
       SELECT n.doc_id, CAST(len(n.words) AS BIGINT) AS n_tokens,
         CAST(len(n.words) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
         coalesce(a.clean_text, '') AS clean_text
       FROM norm n LEFT JOIN agg a USING (doc_id)
       ORDER BY n.doc_id""",
    "q117_kmv_distinct" -> s"""WITH h AS (
         SELECT DISTINCT source, ${pHash60("text")} AS h FROM documents),
       ranked AS (
         SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         FROM h),
       g AS (
         SELECT h, row_number() OVER (ORDER BY h) AS rn
         FROM (SELECT DISTINCT h FROM h)),
       per AS (
         SELECT source AS scope,
           count(*) FILTER (WHERE rn <= 64) AS n_kept,
           max(h) FILTER (WHERE rn <= 64) AS kth_min,
           count(*) AS exact_distinct
         FROM ranked GROUP BY source),
       tot AS (
         SELECT 'ALL' AS scope,
           count(*) FILTER (WHERE rn <= 64) AS n_kept,
           max(h) FILTER (WHERE rn <= 64) AS kth_min,
           count(*) AS exact_distinct
         FROM g),
       u AS (SELECT * FROM per UNION ALL SELECT * FROM tot)
       SELECT scope, n_kept, kth_min,
         CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
              ELSE 63.0 * 1152921504606846976.0 / CAST(kth_min AS DOUBLE)
         END AS est_distinct,
         exact_distinct
       FROM u ORDER BY scope""",
    // Bottom-k sampling replayed with QUALIFY over the tag-keyed hash, the
    // lower order statistic with pure integer rank indexing; q·(n−1) is
    // IEEE double multiply on both engines (q written ::DOUBLE so DuckDB
    // doesn't parse it as DECIMAL).
    "q121_sample_quantiles" -> s"""WITH s AS (
         SELECT len(text) AS v, doc_id
         FROM documents
         QUALIFY row_number() OVER (
           ORDER BY ${pHash60("concat('bottomk:', CAST(doc_id AS VARCHAR))")},
                    doc_id) <= 200),
       vs AS (
         SELECT v, row_number() OVER (ORDER BY v) - 1 AS r,
           count(*) OVER () AS n
         FROM s)
       SELECT q, v AS value
       FROM (VALUES (0.0::DOUBLE), (0.1::DOUBLE), (0.25::DOUBLE),
             (0.5::DOUBLE), (0.75::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE),
             (1.0::DOUBLE)) t(q)
       JOIN vs ON vs.r = CAST(floor(q * (vs.n - 1)) AS BIGINT)
       ORDER BY q""",
    "q122_group_sample" -> s"""SELECT doc_id, lang, source FROM documents
       QUALIFY row_number() OVER (PARTITION BY lang
         ORDER BY ${pHash60("concat('bottomk:', CAST(doc_id AS VARCHAR))")},
                  doc_id) <= 25
       ORDER BY lang, doc_id""",
    "q118_heavy_hitters" -> s"""WITH seeds AS (
         SELECT unnest(generate_series(0, 3)) AS seed),
       kh AS (
         SELECT user_id,
           ${pHash60("CAST(user_id AS VARCHAR)")} AS h1,
           ${pHash60b("CAST(user_id AS VARCHAR)")} AS h2,
           count(*) AS exact_n
         FROM events GROUP BY 1, 2, 3),
       kb AS (
         SELECT user_id, exact_n, seed,
           ((h1 + ((seed * (h2 >> 30)) % 1073741824) * 1073741824
             + seed * (h2 & 1073741823)) & 1152921504606846975) % 1024 AS bucket
         FROM kh, seeds),
       cells AS (
         SELECT seed, bucket, CAST(sum(exact_n) AS BIGINT) AS cnt
         FROM kb GROUP BY 1, 2),
       est AS (
         SELECT kb.user_id, min(kb.exact_n) AS exact_n, min(c.cnt) AS cm_est
         FROM kb JOIN cells c USING (seed, bucket) GROUP BY 1)
       SELECT user_id, cm_est, exact_n FROM est
       WHERE cm_est >= 75 ORDER BY user_id""",
    "q60_dedup_exact" ->
      """SELECT doc_id, source, n_chars FROM (
         SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         FROM documents) WHERE rn = 1
       ORDER BY doc_id""",
    "q61_token_count" ->
      """SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
       FROM documents ORDER BY doc_id""",
    "q62_quality_features" ->
      """SELECT doc_id,
         length(text) AS n_chars_m,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         round(CAST(length(text) AS DOUBLE) /
           greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0), 4)
           AS mean_word_len,
         round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) /
           greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS digit_ratio,
         round(CAST(len(regexp_extract_all(text,
             '(?i)\b(the|and|of|to|a|in|is|it|that|for|on|with|as|was|are|at|be|this|by|an)\b'))
           AS DOUBLE) /
           greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0), 4)
           AS stopword_ratio
       FROM documents ORDER BY doc_id""",
    "q63_lang_id" ->
      s"""WITH scores AS (
         SELECT doc_id, ${langScoresSql("text")}
         FROM documents)
       SELECT doc_id, s_en AS en_stopwords, $langPredSql AS lang_pred
       FROM scores ORDER BY doc_id""",
    "q67_ngram_jaccard" ->
      """WITH norm AS (
         SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS words
         FROM documents WHERE doc_id < 20),
       grams AS (
         SELECT doc_id,
           list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> array_to_string(words[i:i+2], ' '))) AS g
         FROM norm)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CASE WHEN len(list_distinct(g_union)) > 0
           THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                / len(list_distinct(g_union))
           ELSE 0.0 END, 4) AS jaccard
       FROM grams a JOIN grams b ON a.doc_id < b.doc_id,
         LATERAL (SELECT list_concat(a.g, b.g) AS g_union)
       ORDER BY id_a, id_b""",
    // independent mechanics: a global row_number over the same
    // (prefix-key, id) order replaces the engine's range-partitioned dense
    // ids; same trigram-Jaccard arithmetic as q67
    "q198_sorted_neighborhood" ->
      """WITH norm AS (
         SELECT doc_id, text,
           substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24)
             AS k
         FROM documents),
       pos AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS p
               FROM norm),
       words AS (
         SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
         FROM documents),
       grams AS (
         SELECT doc_id,
           list_distinct(list_transform(generate_series(1, len(w) - 2),
             i -> array_to_string(w[i:i+2], ' '))) AS g
         FROM words),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(b.p - a.p AS BIGINT) AS pos_dist
         FROM pos a JOIN pos b ON b.p - a.p BETWEEN 1 AND 10),
       scored AS (
         SELECT p.id_a, p.id_b, p.pos_dist,
           round(CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) > 0
             THEN CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
                  / len(list_distinct(list_concat(ga.g, gb.g)))
             ELSE 0.0 END, 4) AS jaccard
         FROM pairs p JOIN grams ga ON ga.doc_id = p.id_a
           JOIN grams gb ON gb.doc_id = p.id_b)
       SELECT * FROM scored WHERE jaccard >= 0.05 ORDER BY id_a, id_b""",
    "q70_ann_lsh" ->
      s"""WITH params AS (
         SELECT least(24, greatest(8,
             CAST(ceil(log2(count(*) / 32.0)) AS BIGINT))) AS bits,
           (SELECT max(len(embedding)) FROM embeddings) AS dim
         FROM embeddings),
       planes AS (
         SELECT t.t, b.b, j.j,
           CASE WHEN (CAST(concat('0x', substr(md5(concat(
               CAST(42 + t.t AS VARCHAR), ':', CAST(b.b AS VARCHAR), ':',
               CAST(j.j AS VARCHAR))), 1, 15)) AS BIGINT) & 1) = 1
             THEN 1.0 ELSE -1.0 END AS sgn
         FROM params, unnest(generate_series(0, 3)) t(t),
              unnest(generate_series(0, params.bits - 1)) b(b),
              unnest(generate_series(0, params.dim - 1)) j(j)),
       comps AS (
         SELECT e.vec_id, p.t, p.b, sum(p.sgn * e.embedding[p.j + 1]) AS dot
         FROM embeddings e CROSS JOIN planes p
         GROUP BY e.vec_id, p.t, p.b),
       buckets AS (
         SELECT vec_id, t,
           sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
         FROM comps GROUP BY vec_id, t),
       cand AS (
         SELECT q.vec_id AS query_id, e.vec_id
         FROM buckets q JOIN buckets e ON q.t = e.t AND q.bucket = e.bucket
         WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
         GROUP BY 1, 2),
       scored AS (
         SELECT c.query_id, c.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])))), 6) AS cosine
         FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
           JOIN embeddings q ON q.vec_id = c.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine DESC, vec_id""",
    "q73_ann_ivf" ->
      s"""WITH cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM embeddings ORDER BY hk, vec_id LIMIT 16)),
       dists AS (
         SELECT e.vec_id, c.ci,
           list_dot_product(c.cvec, c.cvec)
             - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec) AS s
         FROM embeddings e CROSS JOIN cents c),
       assigned AS (
         SELECT vec_id, ci AS cell FROM (
           SELECT vec_id, ci,
             row_number() OVER (PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM dists) WHERE rn = 1),
       probes AS (
         SELECT vec_id AS query_id, ci AS cell FROM (
           SELECT vec_id, ci,
             row_number() OVER (PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM dists WHERE vec_id < 5) WHERE rn <= 4),
       scored AS (
         SELECT p.query_id, a.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])))), 6) AS cosine
         FROM probes p JOIN assigned a USING (cell)
           JOIN embeddings e ON e.vec_id = a.vec_id
           JOIN embeddings q ON q.vec_id = p.query_id
         WHERE a.vec_id <> p.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine DESC, vec_id""",
    "q69_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM embeddings WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.qvec AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                                      CAST(q.qvec AS DOUBLE[])))), 6) AS cosine
         FROM embeddings e CROSS JOIN q
         WHERE e.vec_id <> q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine DESC, vec_id""",
    "q68_cosine_scores" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM embeddings WHERE vec_id < 5)
       SELECT q.query_id, e.vec_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qvec AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                                    CAST(q.qvec AS DOUBLE[])))), 6) AS cosine
       FROM embeddings e CROSS JOIN q
       WHERE e.vec_id <> q.query_id
       ORDER BY query_id, vec_id""",
    "q71_embedding_neardup" ->
      """SELECT vec_id AS id_a,
         CAST(vec_id + 100000 AS BIGINT) AS id_b,
         CAST(1.0 AS DOUBLE) AS cosine
       FROM embeddings WHERE vec_id < 10 ORDER BY id_a""",
    "q101_semantic_dedup" ->
      s"""WITH RECURSIVE corpus AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         UNION ALL
         SELECT CAST(vec_id + 100000 AS BIGINT), CAST(embedding AS DOUBLE[])
         FROM embeddings WHERE vec_id < 20),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM corpus ORDER BY hk, vec_id LIMIT 16)),
       dists AS (
         SELECT c.vec_id, t.ci,
           list_dot_product(t.cvec, t.cvec)
             - 2.0 * list_dot_product(c.v, t.cvec) AS s,
           list_dot_product(c.v, t.cvec)
             / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(t.cvec, t.cvec))) AS kc
         FROM corpus c CROSS JOIN cents t),
       assigned AS (
         SELECT vec_id, CAST(ci AS INTEGER) AS cell, round(kc, 6) AS kc
         FROM (SELECT vec_id, ci, kc,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s, ci) AS rn
               FROM dists) WHERE rn = 1),
       pairs AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM assigned a JOIN assigned b
           ON a.cell = b.cell AND a.vec_id < b.vec_id
         JOIN corpus ca ON ca.vec_id = a.vec_id
         JOIN corpus cb ON cb.vec_id = b.vec_id
         WHERE round(list_dot_product(ca.v, cb.v)
           / (sqrt(list_dot_product(ca.v, ca.v))
            * sqrt(list_dot_product(cb.v, cb.v))), 6) >= 0.999),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(n, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       comp AS (
         SELECT n AS did, least(min(m), n) AS cluster FROM reach GROUP BY n),
       clustered AS (
         SELECT a.vec_id, a.cell,
           coalesce(c.cluster, a.vec_id) AS cluster, a.kc
         FROM assigned a LEFT JOIN comp c ON a.vec_id = c.did)
       SELECT vec_id, cell, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY kc DESC, vec_id) = 1
           AS is_kept
       FROM clustered ORDER BY vec_id""",
    "q102_quality_classifier" ->
      s"""WITH norm AS (
         SELECT doc_id, lang, ${normSql("text")} AS t FROM documents),
       toks AS (
         SELECT doc_id, lang, unnest(string_split(t, ' ')) AS w FROM norm),
       tok2 AS (
         SELECT doc_id, lang = 'en' AS y,
           CAST(${pHash60("w")} % 256 AS INTEGER) AS b
         FROM toks WHERE len(w) > 0),
       counts AS (
         SELECT b, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS gc,
           CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS bc
         FROM tok2 GROUP BY b),
       grid AS (
         SELECT CAST(i AS INTEGER) AS b
         FROM unnest(generate_series(0, 255)) t(i)),
       sm AS (
         SELECT g.b, coalesce(c.gc, 0) + 1 AS gg, coalesce(c.bc, 0) + 1 AS bb
         FROM grid g LEFT JOIN counts c ON g.b = c.b),
       tot AS (
         SELECT CAST(sum(gg) AS BIGINT) AS tg, CAST(sum(bb) AS BIGINT) AS tb
         FROM sm),
       wts AS (
         SELECT b, (gg * 1000000000) // tg - (bb * 1000000000) // tb AS w
         FROM sm, tot),
       scores AS (
         SELECT t.doc_id, CAST(sum(w.w) AS BIGINT) AS score
         FROM tok2 t JOIN wts w ON t.b = w.b GROUP BY t.doc_id)
       SELECT d.doc_id, coalesce(s.score, CAST(0 AS BIGINT)) AS score,
         coalesce(s.score, 0) > 0 AS predicted
       FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
       ORDER BY d.doc_id""",
    "q103_token_shards" ->
      """WITH toks AS (
         SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
       cum AS (
         SELECT doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
             AS BIGINT) AS token_start
         FROM toks)
       SELECT doc_id, n_tokens, token_start,
         token_start // 2000 AS shard
       FROM cum ORDER BY doc_id""",
    "q106_temperature_mix" ->
      s"""WITH n AS (
         SELECT lang, CAST(count(*) AS DOUBLE) AS nn
         FROM documents GROUP BY lang),
       m AS (SELECT min(nn) AS mn FROM n),
       r AS (SELECT lang, sqrt(mn / nn) AS rate FROM n, m)
       SELECT d.doc_id, d.lang, d.source
       FROM documents d JOIN r ON d.lang = r.lang
       WHERE ${acceptSql("d.doc_id", "temp", "r.rate")}
       ORDER BY d.doc_id""",
    "q104_exact_k_sample" ->
      s"""SELECT doc_id, lang, source FROM (
         SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY lang ORDER BY
             ${pHash60("concat('exactk:', CAST(doc_id AS VARCHAR))")}, doc_id)
             AS rk
         FROM documents) WHERE rk <= 30 ORDER BY doc_id""",
    "q88_pii_scrub" ->
      """WITH withpii AS (
         SELECT doc_id,
           CASE WHEN doc_id < 50 THEN concat(text, ' contact user',
               CAST(doc_id AS VARCHAR), '@example.com via https://example.org/d/',
               CAST(doc_id AS VARCHAR))
             ELSE text END AS text
         FROM documents)
       SELECT doc_id,
         len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
         regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
           AS scrubbed
       FROM withpii ORDER BY doc_id""",
    "q89_repetition" ->
      s"""WITH norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS words
         FROM documents),
       grams AS (
         SELECT doc_id, array_to_string(words[i:i+1], ' ') AS s
         FROM norm, unnest(generate_series(1, len(words) - 1)) u(i))
       SELECT doc_id, count(*) AS n_grams, count(DISTINCT s) AS n_distinct,
         round((count(*) - count(DISTINCT s)) / CAST(count(*) AS DOUBLE), 4)
           AS dup_fraction
       FROM grams GROUP BY doc_id ORDER BY doc_id""",
    "q87_salted_agg" ->
      """SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS total_milli,
         min(value) AS min_value, max(value) AS max_value
       FROM events GROUP BY user_id ORDER BY user_id""",
    "q90_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
       WHERE ${acceptSql("doc_id", "strat",
          "CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END")}
       ORDER BY doc_id""",
    "q91_sequence_pack" ->
      s"""WITH toks AS (
         SELECT doc_id, source,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
         FROM documents),
       cum AS (
         SELECT *, CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS BIGINT) AS s0
         FROM toks)
       SELECT doc_id, source, n_tokens,
         CAST(floor(s0 / 512.0) AS BIGINT) AS seq_id,
         s0 % 512 AS seq_offset,
         CAST(floor((s0 + greatest(n_tokens, 1) - 1) / 512.0) AS BIGINT)
           - CAST(floor(s0 / 512.0) AS BIGINT) + 1 AS n_seqs
       FROM cum ORDER BY doc_id""",
    "q92_mixture_weights" ->
      s"""WITH counts AS (
         SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
       ww AS (
         SELECT lang, n,
           CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15 WHEN 'fr' THEN 0.15
             WHEN 'es' THEN 0.15 WHEN 'zh' THEN 0.15 END AS w
         FROM counts),
       -- rate = c·w/n with c = min(n/w): same association order as
       -- Sampling.mixtureRebalance ((c * w) / n) so the IEEE double value
       -- is bit-identical
       rates AS (
         SELECT lang, min(n / w) OVER () * w / n AS rate
         FROM ww WHERE w IS NOT NULL)
       SELECT d.doc_id, d.lang, d.source
       FROM documents d JOIN rates r USING (lang)
       WHERE ${acceptSql("d.doc_id", "mix", "r.rate")}
       ORDER BY d.doc_id""",
    "q93_curation_pipeline" ->
      s"""WITH rep AS (
         SELECT doc_id,
           round((count(*) - count(DISTINCT s)) / CAST(count(*) AS DOUBLE), 4)
             AS dup_fraction
         FROM (
           SELECT doc_id, array_to_string(words[i:i+1], ' ') AS s
           FROM (SELECT doc_id,
                   regexp_split_to_array(${normSql("text")}, ' ') AS words
                 FROM documents) n,
             unnest(generate_series(1, len(words) - 1)) u(i))
         GROUP BY doc_id),
       scored AS (
         SELECT doc_id, text, source,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) /
             greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS digit_ratio,
           ${langScoresSql("text")}
         FROM documents),
       filtered AS (
         SELECT s.doc_id, s.text, s.source, s.n_tokens
         FROM scored s JOIN rep USING (doc_id)
         WHERE $langPredSql = 'en' AND s.n_tokens >= 20
           AND s.digit_ratio < 0.2 AND rep.dup_fraction < 0.3),
       deduped AS (
         SELECT doc_id, source, n_tokens,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         FROM filtered)
       SELECT doc_id, source, n_tokens FROM deduped WHERE rn = 1
       ORDER BY doc_id""",
    "q94_sql_frontend" ->
      s"""WITH scored AS (
         SELECT doc_id, text, n_chars, ${langScoresSql("text")},
           regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents)
       SELECT doc_id, ${pHash60("text")} AS h60,
         ${pHash60(normSql("text"))} AS fp,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         $langPredSql AS lang_pred,
         CAST(len(list_filter(ws, w -> w = 'the'))
          + len(list_filter(range(1, len(ws)),
              i -> ws[i] = 'batch' AND ws[i + 1] = 'batch'))
          AS BIGINT) AS n_block_hits,
         CAST(greatest(0, least(n_chars, 200) - 50) AS BIGINT) AS ov_chars,
         n_chars > 100 AS has_char_100
       FROM scored ORDER BY doc_id""",
    "q72_corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         round(avg(n_chars), 4) AS avg_chars,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS total_tokens,
         count(DISTINCT lang) AS n_langs
       FROM documents GROUP BY source ORDER BY source""",
    "q98_decontaminate" ->
      s"""WITH norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS words
         FROM documents),
       grams AS (
         SELECT doc_id, ${pHash60("array_to_string(words[i:i+7], ' ')")} AS h
         FROM norm, unnest(generate_series(1, len(words) - 7)) u(i)),
       bench AS (
         SELECT DISTINCT doc_id AS bid, h FROM grams WHERE doc_id % 41 = 0),
       hits AS (
         SELECT g.doc_id,
           count(DISTINCT g.h) AS n_contaminated_ngrams,
           count(DISTINCT b.bid) AS n_benchmark_docs
         FROM grams g JOIN bench b USING (h)
         GROUP BY g.doc_id)
       SELECT n.doc_id,
         coalesce(h.n_contaminated_ngrams, 0) AS n_contaminated_ngrams,
         coalesce(h.n_benchmark_docs, 0) AS n_benchmark_docs,
         coalesce(h.n_contaminated_ngrams, 0) > 0 AS contaminated
       FROM norm n LEFT JOIN hits h ON n.doc_id = h.doc_id
       ORDER BY n.doc_id""",
    // Bloom membership replayed as set membership: a bit is set at position
    // p iff SOME bench probe produced p, so "might contain" ≡ all k probe
    // positions ∈ the distinct bench-position set. Probe i is the q65
    // piecewise seeded hash mod 2^16.
    "q120_decontaminate_bloom" ->
      s"""WITH norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS words
         FROM documents),
       grams AS (
         SELECT doc_id, array_to_string(words[i:i+7], ' ') AS s
         FROM norm, unnest(generate_series(1, len(words) - 7)) u(i)),
       hashed AS (
         SELECT doc_id, ${pHash60("s")} AS h1, ${pHash60b("s")} AS h2
         FROM grams),
       probes AS (
         SELECT doc_id, h1,
           ((h1 + ((seed * (h2 >> 30)) % 1073741824) * 1073741824
             + seed * (h2 & 1073741823)) & 1152921504606846975) % 32768 AS p
         FROM hashed, unnest(generate_series(0, 2)) t(seed)),
       bench_pos AS (
         SELECT DISTINCT p FROM probes WHERE doc_id % 41 = 0),
       flags AS (
         SELECT pr.doc_id, pr.h1, bool_and(bp.p IS NOT NULL) AS might
         FROM probes pr LEFT JOIN bench_pos bp USING (p)
         GROUP BY pr.doc_id, pr.h1),
       counts AS (
         SELECT doc_id, count(DISTINCT h1) FILTER (WHERE might) AS n_flagged
         FROM flags GROUP BY doc_id)
       SELECT n.doc_id,
         coalesce(c.n_flagged, 0) AS n_flagged_ngrams,
         coalesce(c.n_flagged, 0) > 0 AS contaminated
       FROM norm n LEFT JOIN counts c ON n.doc_id = c.doc_id
       ORDER BY n.doc_id""",
    // DSIR end to end: both LMs retrained in SQL (integer fixed point),
    // per-bucket weight = floor(1e6·ln(p_t/p_r)) — ln of a ratio of two
    // exactly-replayed int64s, snapped once per bucket — then integer doc
    // sums and the hash-keyed Gumbel-top-k.
    "q124_dsir_sample" ->
      s"""$dsirCtes,
       wts AS (
         SELECT tp.b,
           CAST(floor(1000000.0 * ln(
             CAST(greatest(tp.c * 1000000000 // tt.t, 1) AS DOUBLE) /
             CAST(greatest(rp.c * 1000000000 // rt.t, 1) AS DOUBLE)))
             AS BIGINT) AS w
         FROM tp, tt, rp, rt WHERE tp.b = rp.b),
       scores AS (
         SELECT f.doc_id, CAST(sum(w.w) AS BIGINT) AS dsir_score
         FROM feats f JOIN wts w ON f.b = w.b GROUP BY f.doc_id),
       keyed AS (
         SELECT d.doc_id, d.lang, d.source,
           coalesce(s.dsir_score, 0) AS dsir_score,
           coalesce(s.dsir_score, 0) + CAST(floor(1000000.0 *
             -ln(-ln((CAST(${pHash60(
               "concat('dsir:', CAST(d.doc_id AS VARCHAR))")} AS DOUBLE)
               + 0.5) / 1152921504606846976.0))) AS BIGINT) AS k
         FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id),
       sel AS (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 150)
       SELECT doc_id, lang, source, dsir_score FROM sel ORDER BY doc_id""",
    // Cross-entropy under the en-target LM alone: per-bucket log-prob
    // floor(1e6·ln(p/1e9)), integer doc sums, integer per-feature division.
    "q125_ngram_perplexity" ->
      s"""$dsirCtes,
       wts AS (
         SELECT tp.b,
           CAST(floor(1000000.0 * ln(
             CAST(greatest(tp.c * 1000000000 // tt.t, 1) AS DOUBLE) /
             1000000000.0)) AS BIGINT) AS w
         FROM tp, tt),
       sc AS (
         SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(w.w) AS BIGINT) AS ll
         FROM feats f JOIN wts w ON f.b = w.b GROUP BY f.doc_id)
       SELECT d.doc_id, coalesce(sc.n_feats, 0) AS n_feats,
         (-sc.ll) // sc.n_feats AS ce_micro,
         coalesce((-sc.ll) // sc.n_feats <= 5250000, FALSE) AS kept
       FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       ORDER BY d.doc_id""",
    "q131_subword_vocab" ->
      s"""WITH norm AS (
         SELECT regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       words AS (
         SELECT w FROM (SELECT unnest(ws) AS w FROM norm) WHERE len(w) > 0),
       subs AS (
         SELECT substr(w, p, l) AS token
         FROM words,
           unnest(generate_series(2, 5)) ll(l),
           unnest(generate_series(1, len(w) - l + 1)) pp(p)
         WHERE len(w) >= l),
       counts AS (
         SELECT token, CAST(count(*) AS BIGINT) AS count
         FROM subs GROUP BY token),
       top AS (
         SELECT token, count FROM counts
         ORDER BY count DESC, token LIMIT 200)
       SELECT token, count FROM top ORDER BY token""",
    // Greedy longest-match consumption replayed per WORD TYPE: a
    // MATERIALIZED (word, pos) → longest-matching-token table (plain join
    // + window — a correlated scalar subquery inside the recursion is
    // evaluated nondeterministically by multithreaded DuckDB, caught on
    // q148), then a recursive walk that only joins it; the single-char
    // unknown is the join-miss fallback. Tokens ordered by (word, step)
    // rebuild the stream via the doc→word join.
    "q132_subword_encode" ->
      s"""WITH RECURSIVE norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       words0 AS (
         SELECT doc_id, i AS wi, ws[i] AS w
         FROM norm, unnest(generate_series(1, len(ws))) u(i)
         WHERE len(ws[i]) > 0),
       wt AS MATERIALIZED (
         SELECT DISTINCT w FROM words0),
       subs AS (
         SELECT substr(w, p, l) AS token
         FROM words0,
           unnest(generate_series(2, 5)) ll(l),
           unnest(generate_series(1, len(w) - l + 1)) pp(p)
         WHERE len(w) >= l),
       counts AS (
         SELECT token, CAST(count(*) AS BIGINT) AS c
         FROM subs GROUP BY token),
       vocab AS (
         SELECT token FROM counts ORDER BY c DESC, token LIMIT 200),
       best AS MATERIALIZED (
         SELECT w, pos, tok FROM (
           SELECT p.w, p.pos, v.token AS tok,
             row_number() OVER (PARTITION BY p.w, p.pos
               ORDER BY len(v.token) DESC) AS rn
           FROM (SELECT w, i AS pos
                 FROM wt, unnest(generate_series(1, len(w))) pp(i)) p
             JOIN vocab v ON len(v.token) <= len(p.w) - p.pos + 1
               AND v.token = substr(p.w, p.pos, len(v.token))
         ) WHERE rn = 1),
       steps(w, pos, tok, n) AS (
         SELECT w, 1, CAST(NULL AS VARCHAR), 0 FROM wt
         UNION ALL
         SELECT s.w, s.pos + len(coalesce(b.tok, substr(s.w, s.pos, 1))),
           coalesce(b.tok, substr(s.w, s.pos, 1)), s.n + 1
         FROM steps s LEFT JOIN best b ON b.w = s.w AND b.pos = s.pos
         WHERE s.pos <= len(s.w)),
       wtoks AS MATERIALIZED (
         SELECT w, n, tok FROM steps WHERE tok IS NOT NULL),
       ord AS (
         SELECT d.doc_id, t.tok, row_number() OVER (
           PARTITION BY d.doc_id ORDER BY d.wi, t.n) AS rn
         FROM words0 d JOIN wtoks t USING (w)),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
           string_agg(tok, ' ' ORDER BY rn) FILTER (WHERE rn <= 20)
             AS head_subwords
         FROM ord GROUP BY doc_id)
       SELECT d.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
         coalesce(a.head_subwords, '') AS head_subwords
       FROM documents d LEFT JOIN agg a USING (doc_id)
       ORDER BY d.doc_id""",
    // BM25: every float expression replays the engine's literals and
    // associativity (decimal literals CAST to DOUBLE — DuckDB reads bare
    // decimals as exact DECIMAL); idf micro-snapped off the one ln();
    // per-(doc,term) floors then BIGINT sums.
    // Same rank construction, one row per (group, pct).
    "q164_exact_quantiles" ->
      """WITH vals AS (
         SELECT l_returnflag, CAST(floor(l_extendedprice * (100.0::DOUBLE)
           + (0.5::DOUBLE)) AS BIGINT) AS v
         FROM lineitem),
       r AS (
         SELECT l_returnflag, v,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
         FROM vals)
       SELECT r.l_returnflag, CAST(p.pct AS BIGINT) AS pct,
         CAST(r.n AS BIGINT) AS n, r.v AS value
       FROM r, (SELECT unnest([10, 25, 50, 75, 90, 99]) AS pct) p
       WHERE r.rn = greatest(1, (p.pct * r.n + 99) // 100)
       ORDER BY l_returnflag, pct""",
    // Same doubled-order-statistic construction: row_number over value
    // (tie order irrelevant — selection is by VALUE), lo/hi indexes,
    // med2 = lo+hi, second pass over |2v − med2|.
    "q162_mad_outliers" ->
      """WITH vals AS (
         SELECT l_suppkey, CAST(floor(l_extendedprice * (100.0::DOUBLE)
           + (0.5::DOUBLE)) AS BIGINT) AS v
         FROM lineitem),
       r1 AS (
         SELECT l_suppkey, v,
           row_number() OVER (PARTITION BY l_suppkey ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY l_suppkey) AS n
         FROM vals),
       med AS (
         SELECT l_suppkey,
           CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END) +
             sum(CASE WHEN rn = n // 2 + 1 THEN v ELSE 0 END) AS BIGINT)
             AS med2
         FROM r1 GROUP BY l_suppkey),
       dev AS (
         SELECT v.l_suppkey, v.v, abs(2 * v.v - m.med2) AS d2, m.med2
         FROM vals v JOIN med m USING (l_suppkey)),
       r2 AS (
         SELECT l_suppkey, d2,
           row_number() OVER (PARTITION BY l_suppkey ORDER BY d2) AS rn,
           count(*) OVER (PARTITION BY l_suppkey) AS n
         FROM dev),
       mad AS (
         SELECT l_suppkey,
           CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN d2 ELSE 0 END) +
             sum(CASE WHEN rn = n // 2 + 1 THEN d2 ELSE 0 END) AS BIGINT)
             AS mad2
         FROM r2 GROUP BY l_suppkey)
       SELECT d.l_suppkey, CAST(count(*) AS BIGINT) AS n,
         max(d.med2) AS med2, max(m.mad2) AS mad2,
         CAST(sum(CASE WHEN d.d2 > 3 * m.mad2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
       FROM dev d JOIN mad m USING (l_suppkey)
       GROUP BY d.l_suppkey ORDER BY d.l_suppkey""",
    // Independent all-pairs scan — DuckDB's levenshtein is the same plain
    // (non-transposition) DP as Spark's.
    "q161_fuzzy_join" ->
      """WITH names AS (
         SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
       SELECT a.s AS str_a, b.s AS str_b,
         CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
       FROM names a JOIN names b ON a.s < b.s
       WHERE levenshtein(a.s, b.s) <= 3
       ORDER BY str_a, str_b""",
    // Independent formulation: any-shared-shingle candidates + the
    // containment gate; bench snippets rebuilt from the first 12
    // normalized words of the planted docs.
    "q160_containment_join" ->
      s"""WITH norm AS (
         SELECT doc_id, list_filter(
           regexp_split_to_array(${normSql("text")}, ' '),
           w -> len(w) > 0) AS ws
         FROM documents),
       dts AS MATERIALIZED (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
         FROM norm WHERE len(ws) >= 3),
       bench AS (
         SELECT doc_id AS query_id, ws[1:least(12, len(ws))] AS qws
         FROM norm WHERE doc_id % 41 = 0),
       qts AS MATERIALIZED (
         SELECT query_id, list_distinct(list_transform(
           generate_series(1, len(qws) - 2),
           i -> qws[i] || ' ' || qws[i+1] || ' ' || qws[i+2])) AS s
         FROM bench WHERE len(qws) >= 3),
       sh AS (SELECT doc_id, unnest(s) AS t FROM dts),
       qsh AS (SELECT query_id, unnest(s) AS t FROM qts),
       cand AS (
         SELECT DISTINCT q.query_id, d.doc_id
         FROM qsh q JOIN sh d ON q.t = d.t)
       SELECT c.query_id, c.doc_id,
         CAST(len(list_intersect(q.s, x.s)) AS BIGINT) AS inter_size,
         CAST(len(q.s) AS BIGINT) AS q_size
       FROM cand c JOIN qts q USING (query_id) JOIN dts x USING (doc_id)
       WHERE len(list_intersect(q.s, x.s)) * 100 >= 80 * len(q.s)
       ORDER BY query_id, doc_id""",
    // Independent of the engine's prefix rule: candidates = pairs sharing
    // ANY shingle (complete for J > 0), then the same all-integer gate.
    "q158_allpairs_jaccard" ->
      s"""WITH norm AS (
         SELECT doc_id, list_filter(
           regexp_split_to_array(${normSql("text")}, ' '),
           w -> len(w) > 0) AS ws
         FROM documents),
       ts AS MATERIALIZED (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
         FROM norm WHERE len(ws) >= 3),
       sh AS (SELECT doc_id, unnest(s) AS t FROM ts),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b ON a.t = b.t AND a.doc_id < b.doc_id)
       SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS inter_size,
         CAST(len(list_distinct(x.s || y.s)) AS BIGINT) AS union_size
       FROM cand c
         JOIN ts x ON x.doc_id = c.id_a
         JOIN ts y ON y.doc_id = c.id_b
       WHERE len(list_intersect(x.s, y.s)) * 100 >=
         60 * len(list_distinct(x.s || y.s))
       ORDER BY id_a, id_b""",
    // Candidates = the q65 LSH chain's `cand` CTE; truth = the q158 exact
    // PPJoin formulation at 30% (renamed CTEs — both chains share `norm`/
    // `cand` names). Engine and oracle compose the SAME two independently-
    // oracled constructions over the probe-augmented corpus (word-prefix
    // variants of every 20th doc, graded 30..90% Jaccard by construction),
    // so this pins only the eval arithmetic.
    "q175_minhash_eval" ->
      s"""WITH docs175 AS MATERIALIZED (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT -(d.doc_id * 4 + v.k) AS doc_id,
           array_to_string(d.words[1:(v.pct * len(d.words)) // 100], ' ')
             AS text
         FROM (
           SELECT doc_id, list_filter(
             regexp_split_to_array(${normSql("text")}, ' '),
             w -> len(w) > 0) AS words
           FROM documents WHERE doc_id % 20 = 0) d
         CROSS JOIN (
           SELECT 30 AS pct, 1 AS k UNION ALL SELECT 50, 2
           UNION ALL SELECT 70, 3 UNION ALL SELECT 90, 4) v
         WHERE len(d.words) >= 10),
       ${minhashPairCtes("docs175")},
       lshc AS MATERIALIZED (SELECT id_a, id_b FROM cand),
       tset AS MATERIALIZED (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(tws) - 2),
           i -> tws[i] || ' ' || tws[i+1] || ' ' || tws[i+2])) AS s
         FROM (
           SELECT doc_id, list_filter(
             regexp_split_to_array(${normSql("text")}, ' '),
             w -> len(w) > 0) AS tws
           FROM docs175)
         WHERE len(tws) >= 3),
       tsh AS (SELECT doc_id, unnest(s) AS t FROM tset),
       tcand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM tsh a JOIN tsh b ON a.t = b.t AND a.doc_id < b.doc_id),
       truth AS MATERIALIZED (
         SELECT c.id_a, c.id_b,
           CAST((((100 * len(list_intersect(x.s, y.s))
             // len(list_distinct(x.s || y.s))) // 10) * 10) AS BIGINT)
             AS bucket_pct
         FROM tcand c
           JOIN tset x ON x.doc_id = c.id_a
           JOIN tset y ON y.doc_id = c.id_b
         WHERE len(list_intersect(x.s, y.s)) * 100 >=
           30 * len(list_distinct(x.s || y.s))),
       flagged AS MATERIALIZED (
         SELECT t.bucket_pct,
           CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM truth t
           LEFT JOIN lshc l ON l.id_a = t.id_a AND l.id_b = t.id_b),
       byb AS (
         SELECT bucket_pct, CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(hit) AS BIGINT) AS n_hit
         FROM flagged GROUP BY bucket_pct),
       tot AS (
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM lshc) AS total_cand,
           CAST((SELECT coalesce(sum(hit), 0) FROM flagged) AS BIGINT)
             AS total_hit)
       SELECT b.bucket_pct, b.n_truth, b.n_hit,
         CAST((1000000 * b.n_hit) // b.n_truth AS BIGINT) AS recall_micro,
         t.total_cand, t.total_hit,
         CASE WHEN t.total_cand = 0 THEN NULL
           ELSE CAST((1000000 * t.total_hit) // t.total_cand AS BIGINT)
         END AS precision_micro
       FROM byb b CROSS JOIN tot t ORDER BY b.bucket_pct""",
    // Same nearest-rank boundaries + the same integer counting rule
    // (duplicate boundaries collapse buckets identically on both sides).
    "q169_decile_binning" ->
      """WITH v AS (SELECT doc_id, n_chars FROM documents),
       r AS (
         SELECT n_chars AS bv,
           row_number() OVER (ORDER BY n_chars) AS rn,
           count(*) OVER () AS n
         FROM v),
       b AS (
         SELECT p.pct, r.bv
         FROM r, (SELECT unnest([10,20,30,40,50,60,70,80,90]) AS pct) p
         WHERE r.rn = greatest(1, (p.pct * r.n + 99) // 100)),
       assign AS (
         SELECT v.doc_id, v.n_chars,
           CAST(1 + sum(CASE WHEN b.bv <= v.n_chars THEN 1 ELSE 0 END)
             AS BIGINT) AS decile
         FROM v CROSS JOIN b GROUP BY 1, 2)
       SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars
       FROM assign GROUP BY decile ORDER BY decile""",
    // Per-user purchase aggregates + the q169 nearest-rank boundary rule
    // replayed per dimension.
    "q211_rfm_segments" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
           event_type, value FROM events),
       anchor AS (SELECT max(epoch_us(ts)) AS mx FROM ev),
       per AS (
         SELECT user_id,
           CAST(((SELECT mx FROM anchor) - max(epoch_us(ts)))
             // 86400000000 AS BIGINT) AS recency_days,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CAST(floor(value*1000000) AS BIGINT)) AS BIGINT)
             AS monetary_micro
         FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
       rb AS (SELECT p.pct, r.bv FROM (
           SELECT recency_days AS bv,
             row_number() OVER (ORDER BY recency_days) AS rn,
             count(*) OVER () AS n FROM per) r,
           (SELECT unnest([25,50,75]) AS pct) p
         WHERE r.rn = greatest(1, (p.pct * r.n + 99) // 100)),
       fb AS (SELECT p.pct, r.bv FROM (
           SELECT frequency AS bv,
             row_number() OVER (ORDER BY frequency) AS rn,
             count(*) OVER () AS n FROM per) r,
           (SELECT unnest([25,50,75]) AS pct) p
         WHERE r.rn = greatest(1, (p.pct * r.n + 99) // 100)),
       mb AS (SELECT p.pct, r.bv FROM (
           SELECT monetary_micro AS bv,
             row_number() OVER (ORDER BY monetary_micro) AS rn,
             count(*) OVER () AS n FROM per) r,
           (SELECT unnest([25,50,75]) AS pct) p
         WHERE r.rn = greatest(1, (p.pct * r.n + 99) // 100)),
       coded AS (
         SELECT per.*,
           CAST(1 + (SELECT count(*) FROM rb WHERE bv <= recency_days)
             AS BIGINT) AS r_bucket,
           CAST(1 + (SELECT count(*) FROM fb WHERE bv <= frequency)
             AS BIGINT) AS f_bucket,
           CAST(1 + (SELECT count(*) FROM mb WHERE bv <= monetary_micro)
             AS BIGINT) AS m_bucket
         FROM per)
       SELECT user_id, recency_days, frequency, monetary_micro,
         r_bucket, f_bucket, m_bucket,
         r_bucket*100 + f_bucket*10 + m_bucket AS rfm_code
       FROM coded ORDER BY user_id""",
    // Construction replayed: bucket/rank from the portable hash, max
    // registers, exact dyadic sum, same double literals, ln snapped once.
    "q167_hll_distinct" ->
      s"""WITH r0 AS (
         SELECT l_returnflag,
           ${pHash60("CAST(l_orderkey AS VARCHAR)")} AS h
         FROM lineitem),
       r1 AS (
         SELECT l_returnflag, h % 256 AS bucket, h // 256 AS w FROM r0),
       r2 AS (
         SELECT l_returnflag, bucket,
           CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
         FROM r1),
       regs AS (
         SELECT l_returnflag, bucket, max(rho) AS mr
         FROM r2 GROUP BY 1, 2),
       allregs AS (
         SELECT f.l_returnflag, b.bucket, coalesce(r.mr, 0) AS mr
         FROM (SELECT DISTINCT l_returnflag FROM lineitem) f
           CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bucket) b
           LEFT JOIN regs r ON r.l_returnflag = f.l_returnflag
             AND r.bucket = b.bucket),
       agg AS (
         SELECT l_returnflag,
           CAST(sum(CASE WHEN mr <= 50
             THEN CAST(1 AS BIGINT) << (50 - mr) ELSE 0 END) AS BIGINT)
             AS s,
           CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
         FROM allregs GROUP BY 1),
       est AS (
         SELECT l_returnflag, zeros,
           (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
             CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE)))
             * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
             * CAST(1125899906842624 AS DOUBLE) / CAST(s AS DOUBLE) AS raw
         FROM agg),
       fin AS (
         SELECT l_returnflag, CAST(256 AS BIGINT) AS m, zeros,
           CAST(floor(CAST(1000000.0 AS DOUBLE) *
             CASE WHEN raw <= (640.0::DOUBLE) AND zeros > 0
               THEN CAST(256 AS DOUBLE) *
                 ln(CAST(256 AS DOUBLE) / CAST(zeros AS DOUBLE))
               ELSE raw END) AS BIGINT) AS est_micro
         FROM est),
       ex AS (
         SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
         FROM lineitem GROUP BY 1)
       SELECT f.l_returnflag, f.m, f.zeros, f.est_micro, ex.n_exact
       FROM fin f JOIN ex USING (l_returnflag)
       ORDER BY l_returnflag""",
    // Exact side = q69's ranking; approx side = q136's cents/assignment/
    // probe chain without the SQ codes; recall joined per query.
    "q166_ann_recall" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM corp ORDER BY hk, vec_id LIMIT 16)),
       cdists AS (
         SELECT c.vec_id, t.ci,
           list_dot_product(t.cvec, t.cvec)
             - 2.0 * list_dot_product(c.v, t.cvec) AS s
         FROM corp c CROSS JOIN cents t),
       assigned AS (
         SELECT vec_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists) WHERE rn = 1),
       probes AS (
         SELECT vec_id AS query_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists WHERE vec_id < 8) WHERE rn <= 4),
       q AS (
         SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 8),
       exacts AS (
         SELECT query_id, vec_id FROM (
           SELECT q.query_id, e.vec_id,
             row_number() OVER (PARTITION BY q.query_id ORDER BY
               round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
               e.vec_id) AS rn
           FROM corp e CROSS JOIN q WHERE e.vec_id <> q.query_id)
         WHERE rn <= 10),
       approx AS (
         SELECT query_id, vec_id FROM (
           SELECT p.query_id, a.vec_id,
             row_number() OVER (PARTITION BY p.query_id ORDER BY
               round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
               a.vec_id) AS rn
           FROM probes p
             JOIN assigned a ON p.cell = a.cell
             JOIN corp e ON e.vec_id = a.vec_id
             JOIN q ON q.query_id = p.query_id
           WHERE a.vec_id <> p.query_id)
         WHERE rn <= 10)
       SELECT x.query_id, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_recalled,
         CAST(100 * sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           // count(*) AS BIGINT) AS recall_pct
       FROM exacts x LEFT JOIN approx ap
         ON ap.query_id = x.query_id AND ap.vec_id = x.vec_id
       GROUP BY x.query_id ORDER BY x.query_id""",
    // q69's ranking chain with a band filter instead of top-k.
    "q165_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM embeddings WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.qvec AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                                      CAST(q.qvec AS DOUBLE[])))), 6)
             AS cosine
         FROM embeddings e CROSS JOIN q
         WHERE e.vec_id <> q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, CAST(rn AS BIGINT) AS "rank", cosine
       FROM ranked WHERE rn BETWEEN 20 AND 29
       ORDER BY query_id, "rank"""",
    // Same kNN edge construction as q157; triangles via the INDEPENDENT
    // canonical triple join (a<b, b<c, a<c all present), nodes exploded.
    "q163_triangles" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       scored AS (
         SELECT q.vec_id AS src, e.vec_id AS dst,
           round(list_dot_product(e.v, q.v)
             / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
         FROM corp e CROSS JOIN corp q WHERE e.vec_id <> q.vec_id),
       edges AS MATERIALIZED (
         SELECT src, dst FROM (
           SELECT *, row_number() OVER (
             PARTITION BY src ORDER BY cosine DESC, dst) AS rn
           FROM scored) WHERE rn <= 3),
       und AS MATERIALIZED (
         SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM edges WHERE src <> dst),
       tri AS (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM und e1
           JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
       SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       FROM (SELECT unnest([x, y, z]) AS node FROM tri)
       GROUP BY node ORDER BY node""",
    // Brute all-pairs distance filter — the grid decomposition is the
    // engine's scale device, not a semantic.
    "q218_radius_join" ->
      """WITH pts AS (
         SELECT vec_id,
           CAST(floor(CAST(embedding AS DOUBLE[])[1]*1000000) AS BIGINT) AS x,
           CAST(floor(CAST(embedding AS DOUBLE[])[2]*1000000) AS BIGINT) AS y
         FROM embeddings)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
       FROM pts a JOIN pts b ON a.vec_id < b.vec_id
       WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
         <= CAST(50000 AS BIGINT) * 50000
       ORDER BY id_a, id_b""",
    // q163's triangle CTEs + the degree aggregate; // on nonnegative
    // values ≡ the engine's div.
    "q210_clustering_coeff" ->
      s"""WITH $knnEdgesCtesSql,
       und AS MATERIALIZED (
         SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM edges WHERE src <> dst),
       deg AS (
         SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         GROUP BY node),
       tri AS (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM und e1
           JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       tcount AS (
         SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
         FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
       SELECT d.node, d.deg, coalesce(t.n_triangles, 0) AS n_triangles,
         CASE WHEN d.deg >= 2
           THEN CAST((2000000 * coalesce(t.n_triangles, 0))
             // (d.deg * (d.deg - 1)) AS BIGINT)
           ELSE 0 END AS cc_micro
       FROM deg d LEFT JOIN tcount t ON t.node = d.node
       ORDER BY d.node""",
    // q69's all-pairs rounded-cosine ranking builds the kNN edges; 3
    // PageRank rounds unrolled, every step BIGINT // division.
    "q157_pagerank_knn" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       scored AS (
         SELECT q.vec_id AS src, e.vec_id AS dst,
           round(list_dot_product(e.v, q.v)
             / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
         FROM corp e CROSS JOIN corp q WHERE e.vec_id <> q.vec_id),
       edges AS MATERIALIZED (
         SELECT src, dst FROM (
           SELECT *, row_number() OVER (
             PARTITION BY src ORDER BY cosine DESC, dst) AS rn
           FROM scored) WHERE rn <= 3),
       nodes AS MATERIALIZED (
         SELECT DISTINCT node FROM (
           SELECT src AS node FROM edges
           UNION ALL SELECT dst AS node FROM edges)),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       deg AS MATERIALIZED (
         SELECT src, CAST(count(*) AS BIGINT) AS d
         FROM edges GROUP BY src),
       r0 AS MATERIALIZED (
         SELECT node, CAST(1000000000000 AS BIGINT) // nn.n AS r
         FROM nodes, nn),
       ${(1 to 3).map { k =>
        s"""i$k AS MATERIALIZED (
         SELECT nd.node,
           (15 * CAST(1000000000000 AS BIGINT)) // (100 * nn.n)
             + (85 * coalesce(s.s, 0)) // 100 AS r
         FROM nodes nd CROSS JOIN nn
           LEFT JOIN (
             SELECT e.dst AS node, CAST(sum(r.r // g.d) AS BIGINT) AS s
             FROM edges e
               JOIN ${if (k == 1) "r0" else s"i${k - 1}"} r ON r.node = e.src
               JOIN deg g ON g.src = e.src
             GROUP BY e.dst) s ON s.node = nd.node)"""
      }.mkString(",\n")}
       SELECT node, r AS rank_fx FROM i3 ORDER BY node""",
    // q157's kNN edges; 4 sync LPA rounds unrolled (neighbor-mode labels,
    // ties to the smallest) — the engine's pinned trajectory replayed.
    "q173_label_prop" ->
      s"""WITH $knnEdgesCtesSql,
       $lpaRoundsCtesSql
       SELECT node, community FROM r4 ORDER BY node""",
    // Same kNN graph symmetrized; Pearson over endpoint degrees with the
    // single-integer denominator the symmetric marginals admit.
    "q207_assortativity" ->
      s"""WITH $knnEdgesCtesSql,
       symd AS (
         SELECT DISTINCT a, b FROM (
           SELECT src AS a, dst AS b FROM edges
           UNION ALL SELECT dst, src FROM edges)
         WHERE a <> b),
       deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
               FROM symd GROUP BY 1),
       tag AS (SELECT dx.deg AS x, dy.deg AS y FROM symd u
         JOIN deg dx ON dx.node = u.a JOIN deg dy ON dy.node = u.b),
       s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(x) AS HUGEINT) AS sx,
           CAST(sum(x*y) AS HUGEINT) AS sxy,
           CAST(sum(x*x) AS HUGEINT) AS sxx
         FROM tag)
       SELECT CAST(n AS BIGINT) AS n_endpoints, CAST(sx AS BIGINT) AS sum_x,
         CAST(sxy AS BIGINT) AS sum_xy, CAST(sxx AS BIGINT) AS sum_xx,
         CAST(n*sxy - sx*sx AS BIGINT) AS r_num,
         CAST(n*sxx - sx*sx AS BIGINT) AS r_den FROM s""",
    // Ranked cumulative token shares, same integer boundary predicate.
    "q248_token_lorenz" ->
      """WITH t AS (
         SELECT source, doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS tok
         FROM documents),
       r AS (SELECT *,
           CAST(row_number() OVER w AS BIGINT) AS i,
           count(*) OVER (PARTITION BY source) AS n,
           sum(tok) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS cum_tok,
           sum(tok) OVER (PARTITION BY source) AS tot_tok
         FROM t WINDOW w AS (PARTITION BY source ORDER BY tok, doc_id))
       SELECT source, CAST((10 * i) // n AS BIGINT) AS decile,
         i AS n_docs,
         CAST(1000 * cum_tok // tot_tok AS BIGINT) AS tok_permille
       FROM r WHERE (10 * i) // n > (10 * (i - 1)) // n
       ORDER BY source, decile""",
    // q99's recursive closure, then the size-distribution rollup.
    "q247_dedup_yield" ->
      s"""WITH RECURSIVE $minhashPairCtesSql,
       pairs AS ($minhashPairSelectSql),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(n, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       comp AS (
         SELECT n AS did, least(min(m), n) AS cluster FROM reach GROUP BY n),
       clustered AS (
         SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.did),
       sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
                 FROM clustered GROUP BY cluster),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS total_docs
               FROM documents)
       SELECT s.sz, CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(s.sz * count(*) AS BIGINT) AS n_docs, t.total_docs,
         CAST(1000 * (t.total_docs - (s.sz * count(*) - count(*)))
           // t.total_docs AS BIGINT) AS keep_permille_if_dropped
       FROM sizes s, tot t GROUP BY s.sz, t.total_docs ORDER BY s.sz""",
    // drained ≡ one-shot is the contract: q247's oracle verbatim.
    "q251_dedup_yield_from_drain" ->
      s"""WITH RECURSIVE $minhashPairCtesSql,
       pairs AS ($minhashPairSelectSql),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(n, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       comp AS (
         SELECT n AS did, least(min(m), n) AS cluster FROM reach GROUP BY n),
       clustered AS (
         SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.did),
       sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
                 FROM clustered GROUP BY cluster),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS total_docs
               FROM documents)
       SELECT s.sz, CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(s.sz * count(*) AS BIGINT) AS n_docs, t.total_docs,
         CAST(1000 * (t.total_docs - (s.sz * count(*) - count(*)))
           // t.total_docs AS BIGINT) AS keep_permille_if_dropped
       FROM sizes s, tot t GROUP BY s.sz, t.total_docs ORDER BY s.sz""",
    // Same leading-digit-of-decimal-string rule + floor-div per-mille.
    "q244_benford" ->
      """WITH b AS (
         SELECT l_returnflag,
           CAST(floor(l_extendedprice * (100.0::DOUBLE) + (0.5::DOUBLE))
             AS BIGINT) AS cents
         FROM lineitem),
       p AS (SELECT l_returnflag,
           CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
         FROM b WHERE cents > 0),
       t AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_total
             FROM p GROUP BY 1)
       SELECT p.l_returnflag, p.digit, CAST(count(*) AS BIGINT) AS n,
         t.n_total, CAST(1000 * count(*) // t.n_total AS BIGINT) AS permille
       FROM p JOIN t USING (l_returnflag)
       GROUP BY p.l_returnflag, p.digit, t.n_total
       ORDER BY p.l_returnflag, p.digit""",
    // Same rank-shared deciles + integer-micro floor divisions.
    "q240_calibration" ->
      """WITH b AS (
         SELECT source, least(1000000, CAST(n_chars AS BIGINT) * 500)
             AS score_micro,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents),
       r AS (SELECT *,
           rank() OVER (PARTITION BY source ORDER BY score_micro) AS rk,
           count(*) OVER (PARTITION BY source) AS n
         FROM b)
       SELECT source, CAST((rk - 1) * 10 // n AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(score_micro) // count(*) AS BIGINT) AS mean_score_micro,
         CAST(1000000 * sum(y) // count(*) AS BIGINT) AS pos_rate_micro
       FROM r GROUP BY source, (rk - 1) * 10 // n
       ORDER BY source, bin""",
    // Rank-shared bins + LOO means replayed with the same floor division.
    "q232_feature_encode" ->
      """WITH b AS (
         SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_chars AS BIGINT) * 1000 AS t
         FROM documents),
       r AS (SELECT *,
           rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
           count(*) OVER (PARTITION BY source) AS n
         FROM b),
       g AS (SELECT lang, CAST(sum(t) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS c
         FROM b GROUP BY lang)
       SELECT r.doc_id, r.source, r.lang, r.n_chars,
         CAST((rk - 1) * 4 // n AS BIGINT) AS len_bin,
         CASE WHEN g.c > 1 THEN CAST((g.s - r.t) // (g.c - 1) AS BIGINT)
         END AS lang_enc_micro
       FROM r JOIN g USING (lang) ORDER BY r.doc_id""",
    // Mann–Whitney ranks with doubled tie averages (rank2 = 2·rank + c − 1),
    // HUGEINT products — the oracle twin of the DECIMAL(38,0) path.
    "q230_auc_exact" ->
      """WITH b AS (
         SELECT source, CAST(n_chars AS BIGINT) AS s,
           lang = 'en' AS y
         FROM documents),
       r AS (SELECT *,
           rank() OVER (PARTITION BY source ORDER BY s) AS rk,
           count(*) OVER (PARTITION BY source, s) AS c
         FROM b),
       g AS (SELECT source,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
           CAST(sum(CASE WHEN y THEN 2 * rk + c - 1 ELSE 0 END) AS HUGEINT)
             AS sr2
         FROM r GROUP BY source)
       SELECT source, n_pos, n_neg,
         CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           CAST((CAST(1000000 AS HUGEINT)
               * (sr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
             // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT)
         END AS auc_micro
       FROM g ORDER BY source""",
    // Same symmetrized adjacency; per-center neighbor pairs (centers with
    // degree in [2, 10000] — the mirrored hub cap), pair counts, true
    // degrees, edge labels, floor-div jaccard micro.
    "q228_link_prediction" ->
      s"""WITH $knnEdgesCtesSql,
       adj AS (
         SELECT DISTINCT x, n FROM (
           SELECT src AS x, dst AS n FROM edges
           UNION ALL SELECT dst, src FROM edges)
         WHERE x <> n),
       deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS deg
               FROM adj GROUP BY 1),
       cn AS (
         SELECT a.n AS u, b.n AS v, CAST(count(*) AS BIGINT) AS cn
         FROM adj a JOIN adj b ON a.x = b.x AND a.n < b.n
           JOIN deg dx ON dx.node = a.x
         WHERE dx.deg BETWEEN 2 AND 10000
         GROUP BY 1, 2)
       SELECT c.u, c.v, c.cn, du.deg AS deg_u, dv.deg AS deg_v,
         EXISTS (SELECT 1 FROM adj e WHERE e.x = c.u AND e.n = c.v)
           AS is_edge,
         CAST(1000000 * c.cn // (du.deg + dv.deg - c.cn) AS BIGINT)
           AS jaccard_micro
       FROM cn c JOIN deg du ON du.node = c.u JOIN deg dv ON dv.node = c.v
       ORDER BY c.u, c.v""",
    // Same LPA partition, then Newman modularity per community in exact
    // integer arithmetic on the micro grid (HUGEINT for the square term —
    // the oracle twin of the engine's DECIMAL(38,0) path).
    "q176_lpa_modularity" ->
      s"""WITH $knnEdgesCtesSql,
       $lpaRoundsCtesSql,
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       tagged AS MATERIALIZED (
         SELECT la.community AS ca, lb.community AS cb
         FROM und e
           JOIN r4 la ON la.node = e.a
           JOIN r4 lb ON lb.node = e.b),
       internal AS (
         SELECT ca AS community, CAST(count(*) AS BIGINT) AS internal_edges
         FROM tagged WHERE ca = cb GROUP BY 1),
       degc AS (
         SELECT community, CAST(count(*) AS BIGINT) AS degree_sum FROM (
           SELECT ca AS community FROM tagged
           UNION ALL SELECT cb FROM tagged)
         GROUP BY community),
       sizes AS (
         SELECT community, CAST(count(*) AS BIGINT) AS n_nodes
         FROM r4 GROUP BY community)
       SELECT s.community, s.n_nodes,
         coalesce(i.internal_edges, 0) AS internal_edges,
         coalesce(d.degree_sum, 0) AS degree_sum,
         CAST((1000000 * coalesce(i.internal_edges, 0)) // mm.m
           - CAST((CAST(1000000 AS HUGEINT) * coalesce(d.degree_sum, 0)
               * coalesce(d.degree_sum, 0))
             // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT)
           AS BIGINT) AS q_micro
       FROM sizes s CROSS JOIN mm
         LEFT JOIN degc d ON d.community = s.community
         LEFT JOIN internal i ON i.community = s.community
       ORDER BY s.community""",
    // 10 greedy MMR rounds unrolled: pick = argmax(70·rel − 30·maxsim,
    // ties to smallest id); maxsim OVERWRITES after round 1, `greatest`
    // thereafter — the engine's exact trajectory.
    "q177_mmr_select" -> {
      def simSql(a: String, b: String): String =
        s"""CAST(floor(round(list_dot_product($a, $b)
           / (sqrt(list_dot_product($a, $a))
            * sqrt(list_dot_product($b, $b))), 6) * 1000000) AS BIGINT)"""
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       qv AS (SELECT v FROM corp WHERE vec_id = 0),
       scored AS (
         SELECT c.vec_id,
           round(list_dot_product(c.v, q.v)
             / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine, c.v
         FROM corp c CROSS JOIN qv q WHERE c.vec_id <> 0),
       pool AS MATERIALIZED (
         SELECT vec_id AS id,
           CAST(floor(cosine * 1000000) AS BIGINT) AS rel, v
         FROM (SELECT *, row_number() OVER (
             ORDER BY cosine DESC, vec_id) AS rn FROM scored)
         WHERE rn <= 40),
       ms0 AS MATERIALIZED (
         SELECT id, rel, v, CAST(0 AS BIGINT) AS ms FROM pool),
       ${(1 to 10).map { r =>
        val prev = s"ms${r - 1}"
        val pick =
          s"""p$r AS MATERIALIZED (
         SELECT id, v, 70 * rel - 30 * ms AS sc FROM $prev
         ORDER BY sc DESC, id LIMIT 1)"""
        val nextMs = if (r == 10) "" else {
          val simExpr = simSql("m.v", "p.v")
          val msExpr = if (r == 1) simExpr else s"greatest(m.ms, $simExpr)"
          s""",
       ms$r AS MATERIALIZED (
         SELECT m.id, m.rel, m.v, $msExpr AS ms
         FROM $prev m CROSS JOIN p$r p WHERE m.id <> p.id)"""
        }
        pick + nextMs
      }.mkString(",\n")}
       SELECT rank, id AS vec_id, sc AS score_micro100 FROM (
         ${(1 to 10).map(r =>
          s"SELECT $r AS rank, id, sc FROM p$r").mkString("\n UNION ALL ")})
       ORDER BY rank"""
    },
    "q156_pmi_collocations" ->
      s"""WITH norm AS (
         SELECT doc_id, list_filter(
           regexp_split_to_array(${normSql("text")}, ' '),
           w -> len(w) > 0) AS ws
         FROM documents),
       uni AS (
         SELECT w, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT unnest(ws) AS w FROM norm) GROUP BY w),
       bi AS (
         SELECT ws[i] AS w1, ws[i+1] AS w2,
           CAST(count(*) AS BIGINT) AS pair_count
         FROM norm, unnest(generate_series(1, len(ws) - 1)) g(i)
         WHERE len(ws) >= 2
         GROUP BY 1, 2),
       tot AS (
         SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS u,
           (SELECT CAST(sum(pair_count) AS BIGINT) FROM bi) AS b),
       scored AS (
         SELECT b2.w1, b2.w2, b2.pair_count,
           CAST(floor(CAST(1000000.0 AS DOUBLE) * ln(
             (CAST(b2.pair_count AS DOUBLE) * CAST(t.u AS DOUBLE) *
               CAST(t.u AS DOUBLE)) /
             (CAST(t.b AS DOUBLE) * CAST(ca.c AS DOUBLE) *
               CAST(cb.c AS DOUBLE)))) AS BIGINT) AS pmi_micro
         FROM bi b2
           JOIN uni ca ON ca.w = b2.w1
           JOIN uni cb ON cb.w = b2.w2
           CROSS JOIN tot t
         WHERE b2.pair_count >= 5)
       SELECT w1, w2, pair_count, pmi_micro FROM scored
       ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""",
    // q156's chain with the pair CTE widened to the window-3 lateral
    // (j correlated on i — ordered skip-grams), denominator = total
    // skip-gram pairs.
    "q179_pmi_skipgrams" ->
      s"""WITH norm AS (
         SELECT doc_id, list_filter(
           regexp_split_to_array(${normSql("text")}, ' '),
           w -> len(w) > 0) AS ws
         FROM documents),
       uni AS (
         SELECT w, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT unnest(ws) AS w FROM norm) GROUP BY w),
       bi AS (
         SELECT ws[i] AS w1, ws[j] AS w2,
           CAST(count(*) AS BIGINT) AS pair_count
         FROM norm,
           unnest(generate_series(1, len(ws) - 1)) g(i),
           unnest(generate_series(i + 1, least(i + 3, len(ws)))) h(j)
         WHERE len(ws) >= 2
         GROUP BY 1, 2),
       tot AS (
         SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS u,
           (SELECT CAST(sum(pair_count) AS BIGINT) FROM bi) AS b),
       scored AS (
         SELECT b2.w1, b2.w2, b2.pair_count,
           CAST(floor(CAST(1000000.0 AS DOUBLE) * ln(
             (CAST(b2.pair_count AS DOUBLE) * CAST(t.u AS DOUBLE) *
               CAST(t.u AS DOUBLE)) /
             (CAST(t.b AS DOUBLE) * CAST(ca.c AS DOUBLE) *
               CAST(cb.c AS DOUBLE)))) AS BIGINT) AS pmi_micro
         FROM bi b2
           JOIN uni ca ON ca.w = b2.w1
           JOIN uni cb ON cb.w = b2.w2
           CROSS JOIN tot t
         WHERE b2.pair_count >= 5)
       SELECT w1, w2, pair_count, pmi_micro FROM scored
       ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""",
    "q149_bm25_topk" -> bm25OracleSql,
    "q154_bm25_probe" -> bm25OracleSql,
    "q155_bm25_incremental" -> bm25OracleSql,
    "q150_tfidf_keywords" ->
      s"""WITH norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       toks AS (
         SELECT doc_id, w
         FROM (SELECT doc_id, unnest(ws) AS w FROM norm) WHERE len(w) > 0),
       tf AS (
         SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         FROM toks GROUP BY 1, 2),
       dfc AS (
         SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       idf AS (
         SELECT w, CAST(floor(CAST(1000000.0 AS DOUBLE) *
             ln(CAST(nn.n AS DOUBLE) / CAST(dfc.df AS DOUBLE))) AS BIGINT)
           AS idf_micro
         FROM dfc, nn),
       scored AS (
         SELECT tf.doc_id, tf.w, tf.tf * i.idf_micro AS tfidf_micro
         FROM tf JOIN idf i USING (w)),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf_micro DESC, w) AS rn
         FROM scored)
       SELECT doc_id, CAST(rn AS BIGINT) AS "rank", w AS term, tfidf_micro
       FROM ranked WHERE rn <= 3 ORDER BY doc_id, "rank"""",
    // Sparse chain = q149's with the query docs' own text (k=20); dense
    // chain = q69's rounded-cosine ranking (k=20); fusion is pure-integer
    // 10⁹ // (60 + rank) summed per (query, doc).
    "q151_hybrid_rrf" ->
      s"""WITH qs AS (
         SELECT doc_id AS query_id, text AS qtext FROM documents
         WHERE doc_id IN (3, 57, 120, 311)),
       norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ') AS ws
         FROM documents),
       toks AS (
         SELECT doc_id, w
         FROM (SELECT doc_id, unnest(ws) AS w FROM norm) WHERE len(w) > 0),
       dl AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         FROM toks GROUP BY doc_id),
       stats AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(coalesce(dl.dl, 0)) AS BIGINT) AS tot
         FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id),
       qterms AS (
         SELECT DISTINCT query_id, w
         FROM (SELECT query_id,
                 unnest(regexp_split_to_array(${normSql("qtext")}, ' ')) AS w
               FROM qs)
         WHERE len(w) > 0),
       tf AS (
         SELECT t.w, t.doc_id, CAST(count(*) AS BIGINT) AS tf
         FROM toks t JOIN (SELECT DISTINCT w FROM qterms) q USING (w)
         GROUP BY 1, 2),
       idf AS (
         SELECT w, CAST(floor(CAST(1000000.0 AS DOUBLE) *
             ln(CAST(1.0 AS DOUBLE) +
               (CAST(s.n - f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
               (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))) AS BIGINT)
           AS idf_micro
         FROM (SELECT w, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY w) f, stats s),
       contrib AS (
         SELECT tf.w, tf.doc_id,
           CAST(floor(CAST(i.idf_micro AS DOUBLE) *
             (CAST(tf.tf AS DOUBLE) *
               (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
             (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
               (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) /
                 (CAST(s.tot AS DOUBLE) / CAST(s.n AS DOUBLE)))))
             AS BIGINT) AS contrib
         FROM tf JOIN idf i USING (w) JOIN dl USING (doc_id), stats s),
       scores AS (
         SELECT q.query_id, c.doc_id,
           CAST(sum(c.contrib) AS BIGINT) AS score_micro
         FROM qterms q JOIN contrib c USING (w)
         GROUP BY 1, 2),
       stop AS (
         SELECT query_id, doc_id, rn FROM (
           SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn
           FROM scores) WHERE rn <= 20),
       qv AS (
         SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
         WHERE vec_id IN (3, 57, 120, 311)),
       dscored AS (
         SELECT q.query_id, e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.qvec AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                                      CAST(q.qvec AS DOUBLE[])))), 6)
             AS cosine
         FROM embeddings e CROSS JOIN qv q
         WHERE e.vec_id <> q.query_id),
       dtop AS (
         SELECT query_id, doc_id, rn FROM (
           SELECT query_id, vec_id AS doc_id, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
           FROM dscored) WHERE rn <= 20),
       fused AS (
         SELECT query_id, doc_id, CAST(sum(rr) AS BIGINT) AS rrf_score
         FROM (
           SELECT query_id, doc_id, CAST(1000000000 AS BIGINT) //
             (CAST(60 AS BIGINT) + CAST(rn AS BIGINT)) AS rr FROM stop
           UNION ALL
           SELECT query_id, doc_id, CAST(1000000000 AS BIGINT) //
             (CAST(60 AS BIGINT) + CAST(rn AS BIGINT)) AS rr FROM dtop)
         GROUP BY 1, 2),
       franked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rn
         FROM fused)
       SELECT query_id, CAST(rn AS BIGINT) AS "rank", doc_id, rrf_score
       FROM franked WHERE rn <= 10 ORDER BY query_id, "rank"""",
    // Independent formulation: token-array slice compare per position —
    // stronger than mirroring the posting join.
    "q152_phrase_search" ->
      s"""WITH pq(query_id, phrase) AS (
         VALUES (CAST(1 AS BIGINT), 'hash join'),
           (CAST(2 AS BIGINT), 'slow fast'),
           (CAST(3 AS BIGINT), 'window agg row'),
           (CAST(4 AS BIGINT), 'the table')),
       nd AS (
         SELECT doc_id, list_filter(
           regexp_split_to_array(${normSql("text")}, ' '),
           w -> len(w) > 0) AS ws
         FROM documents),
       np AS (
         SELECT query_id, list_filter(
           regexp_split_to_array(${normSql("phrase")}, ' '),
           w -> len(w) > 0) AS pws
         FROM pq)
       SELECT p.query_id, d.doc_id, CAST(count(*) AS BIGINT) AS n_matches
       FROM nd d, np p,
         unnest(generate_series(1, len(d.ws) - len(p.pws) + 1)) g(pp)
       WHERE len(d.ws) >= len(p.pws)
         AND d.ws[pp : pp + len(p.pws) - 1] = p.pws
       GROUP BY 1, 2 ORDER BY 1, 2""",
    // q136's cents/assignment chain + the Lloyd update: per-cell count and
    // per-dim floor(1e6*x) BIGINT sums, emitted as flat (cell, n, d,
    // sum_micro) rows — the scalar-only driver-gate shape.
    "q153_kmeans_step" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM corp ORDER BY hk, vec_id LIMIT 16)),
       cdists AS (
         SELECT c.vec_id, t.ci,
           list_dot_product(t.cvec, t.cvec)
             - 2.0 * list_dot_product(c.v, t.cvec) AS s
         FROM corp c CROSS JOIN cents t),
       assigned AS (
         SELECT vec_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists) WHERE rn = 1),
       dsums AS (
         SELECT a.cell, i.i AS d, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(CAST(1000000.0 AS DOUBLE) * c.v[i.i])
             AS BIGINT)) AS BIGINT) AS s
         FROM assigned a JOIN corp c USING (vec_id),
           unnest(generate_series(1, len(c.v))) i(i)
         GROUP BY 1, 2)
       SELECT CAST(cell AS BIGINT) AS cell, n, CAST(d AS BIGINT) AS d,
         s AS sum_micro
       FROM dsums ORDER BY cell, d""",
    // q153's seed centers + quantizer scores; best and runner-up per point
    // by (score, index), inertia restores ‖x−c‖² as x·x + score, margin is
    // the raw score gap — every per-point term floor-snapped before the sum.
    "q178_cluster_quality" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM corp ORDER BY hk, vec_id LIMIT 16)),
       cdists AS (
         SELECT c.vec_id, t.ci,
           list_dot_product(t.cvec, t.cvec)
             - 2.0 * list_dot_product(c.v, t.cvec) AS s
         FROM corp c CROSS JOIN cents t),
       ranked AS (
         SELECT vec_id, ci, s, row_number() OVER (
           PARTITION BY vec_id ORDER BY s, ci) AS rn
         FROM cdists),
       ab AS (
         SELECT r1.vec_id, r1.ci AS cell, r1.s AS a, r2.s AS b
         FROM ranked r1 JOIN ranked r2
           ON r2.vec_id = r1.vec_id AND r2.rn = 2
         WHERE r1.rn = 1),
       pts AS (
         SELECT ab.cell,
           CAST(floor(1000000 * (list_dot_product(c.v, c.v) + ab.a))
             AS BIGINT) AS im,
           CAST(floor(1000000 * (ab.b - ab.a)) AS BIGINT) AS mm
         FROM ab JOIN corp c USING (vec_id))
       SELECT CAST(cell AS BIGINT) AS cell,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(im) AS BIGINT) AS inertia_micro,
         CAST(sum(mm) AS BIGINT) AS margin_micro
       FROM pts GROUP BY cell ORDER BY cell""",
    "q147_wordpiece_merges" ->
      s"""WITH ${wpCtes(8)}
       SELECT step, l AS merge_left, r2 AS merge_right, c AS pair_count,
         cl AS left_count, cr AS right_count
       FROM (${(1 to 8).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")})
       ORDER BY step""",
    // q147's training chain + vocabulary (alphabet ∪ merge units) + the
    // recursive greedy walk: word-initial positions match non-## units,
    // later positions ## units (advance = surface length covered); a
    // position with no match marks the word, which collapses to [UNK].
    "q148_wordpiece_encode" ->
      s"""WITH RECURSIVE ${wpCtes(8)},
       alpha AS (
         SELECT DISTINCT CASE WHEN i = 1 THEN substr(w, 1, 1)
           ELSE '##' || substr(w, i, 1) END AS u
         FROM wt, unnest(generate_series(1, len(w))) pp(i)),
       vunits AS MATERIALIZED (
         SELECT u FROM alpha
         UNION
         SELECT m.l || CASE WHEN m.r2 LIKE '##%' THEN substr(m.r2, 3)
           ELSE m.r2 END AS u
         FROM (${(1 to 8).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")}) m),
       dwords AS (
         SELECT doc_id, i AS wi, ws[i] AS w
         FROM norm, unnest(generate_series(1, len(ws))) uw(i)
         WHERE len(ws[i]) > 0),
       best AS MATERIALIZED (
         SELECT w, pos, tok, adv FROM (
           SELECT p.w, p.pos, v.u AS tok,
             CASE WHEN p.pos = 1 THEN len(v.u) ELSE len(v.u) - 2 END AS adv,
             row_number() OVER (PARTITION BY p.w, p.pos
               ORDER BY len(v.u) DESC) AS rn
           FROM (SELECT w, i AS pos
                 FROM wt, unnest(generate_series(1, len(w))) pp(i)) p
             JOIN vunits v ON CASE WHEN p.pos = 1
               THEN v.u NOT LIKE '##%'
                 AND len(v.u) <= len(p.w) - p.pos + 1
                 AND v.u = substr(p.w, p.pos, len(v.u))
               ELSE v.u LIKE '##%'
                 AND len(v.u) - 2 BETWEEN 1 AND len(p.w) - p.pos + 1
                 AND substr(v.u, 3) = substr(p.w, p.pos, len(v.u) - 2)
               END
         ) WHERE rn = 1),
       steps(w, pos, tok, n) AS (
         SELECT w, 1, CAST(NULL AS VARCHAR), 0 FROM wt
         UNION ALL
         SELECT s.w, s.pos + coalesce(b.adv, 1),
           coalesce(b.tok, '[FAIL]'), s.n + 1
         FROM steps s LEFT JOIN best b ON b.w = s.w AND b.pos = s.pos
         WHERE s.pos <= len(s.w)),
       toks AS MATERIALIZED (
         SELECT w, n, tok FROM steps WHERE tok IS NOT NULL),
       wtoks AS MATERIALIZED (
         SELECT w, n, CASE WHEN bad = 1 THEN '[UNK]' ELSE tok END AS tok
         FROM (
           SELECT w, n, tok,
             max(CASE WHEN tok = '[FAIL]' THEN 1 ELSE 0 END)
               OVER (PARTITION BY w) AS bad,
             row_number() OVER (PARTITION BY w ORDER BY n) AS rwn
           FROM toks)
         WHERE bad = 0 OR rwn = 1),
       ord AS (
         SELECT d.doc_id, t.tok, row_number() OVER (
           PARTITION BY d.doc_id ORDER BY d.wi, t.n) AS rn
         FROM dwords d JOIN wtoks t USING (w)),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
           string_agg(tok, ' ' ORDER BY rn) FILTER (WHERE rn <= 20)
             AS head_subwords
         FROM ord GROUP BY doc_id)
       SELECT d.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
         coalesce(a.head_subwords, '') AS head_subwords
       FROM documents d LEFT JOIN agg a USING (doc_id)
       ORDER BY d.doc_id""",
    "q137_bpe_merges" ->
      s"""WITH ${bpeCtes(8)}
       SELECT step, l AS merge_left, r2 AS merge_right, c AS pair_count
       FROM (${(1 to 8).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")})
       ORDER BY step""",
    "q181_byte_bpe_merges" ->
      s"""WITH ${byteBpeCtes(8)}
       SELECT step, l AS merge_left, r2 AS merge_right, c AS pair_count
       FROM (${(1 to 8).map(r => s"SELECT * FROM bm$r").mkString(" UNION ALL ")})
       ORDER BY step""",
    // Byte training chain + 8 unrolled apply steps over per-doc raw words;
    // tokens rebuilt from the final hex symbol strings in (word, position)
    // order — the q138 shape over the byte symbolization.
    "q182_byte_bpe_encode" ->
      s"""WITH ${byteBpeCtes(8)},
       bdwords AS (
         SELECT doc_id, i AS wi, ws[i] AS w
         FROM bnorm, unnest(generate_series(1, len(ws))) u(i)
         WHERE octet_length(encode(ws[i])) > 0),
       ba0 AS (
         SELECT doc_id, wi, '|' || array_to_string(list_transform(
             generate_series(1, octet_length(encode(w))),
             i -> substr(hex(w), 2*i-1, 2)), '||')
           || '|' AS s
         FROM bdwords),
       ${(1 to 8).map(r =>
        s"""ba$r AS (
         SELECT doc_id, wi, replace(s, '|' || m.l || '||' || m.r2 || '|',
             '|' || m.l || m.r2 || '|') AS s
         FROM ba${r - 1}, bm$r m)""").mkString(",\n")},
       btoks AS (
         SELECT doc_id, wi, j, t[j] AS tok
         FROM (SELECT doc_id, wi, string_split(trim(s, '|'), '||') AS t
               FROM ba8),
           unnest(generate_series(1, len(t))) u(j)),
       bord AS (
         SELECT doc_id, tok, row_number() OVER (
           PARTITION BY doc_id ORDER BY wi, j) AS rn
         FROM btoks),
       bagg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
           string_agg(tok, ' ' ORDER BY rn) FILTER (WHERE rn <= 20)
             AS head_subwords
         FROM bord GROUP BY doc_id)
       SELECT d.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
         coalesce(a.head_subwords, '') AS head_subwords
       FROM documents d LEFT JOIN bagg a USING (doc_id)
       ORDER BY d.doc_id""",
    // seed DP (walk) -> counts1 -> renormalized vocab2 (prune + char
    // floor) -> second DP (r-prefixed tables) -> final counts
    "q145_unigram_em_round" ->
      s"""WITH RECURSIVE ${unigramCtes(12)},
       counts1 AS MATERIALIZED (
         SELECT k.tok AS t, CAST(sum(t2.freq) AS BIGINT) AS c
         FROM walk k JOIN wt t2 USING (w)
         GROUP BY k.tok),
       v2raw AS (
         SELECT v.t AS token,
           CASE WHEN coalesce(c1.c, 0) > 0 THEN c1.c ELSE 1 END AS c
         FROM vocab v LEFT JOIN counts1 c1 ON v.t = c1.t
         WHERE coalesce(c1.c, 0) > 0 OR len(v.t) = 1),
       tot2 AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM v2raw),
       vocab2 AS MATERIALIZED (
         SELECT v.token AS t,
           CAST(floor(1000000.0 * ln(v.c / tot2.t)) AS BIGINT) AS wt
         FROM v2raw v, tot2)${unigramDpCtes("vocab2", "r", 12)}
       SELECT k.tok AS token, CAST(sum(t2.freq) AS BIGINT) AS count
       FROM rwalk k JOIN wt t2 USING (w)
       GROUP BY k.tok ORDER BY token""",
    // q145's renormalized-model DP (rwalk) + q144's per-doc aggregation
    "q146_unigram_encode_trained" ->
      s"""WITH RECURSIVE ${unigramCtes(12)},
       counts1 AS MATERIALIZED (
         SELECT k.tok AS t, CAST(sum(t2.freq) AS BIGINT) AS c
         FROM walk k JOIN wt t2 USING (w)
         GROUP BY k.tok),
       v2raw AS (
         SELECT v.t AS token,
           CASE WHEN coalesce(c1.c, 0) > 0 THEN c1.c ELSE 1 END AS c
         FROM vocab v LEFT JOIN counts1 c1 ON v.t = c1.t
         WHERE coalesce(c1.c, 0) > 0 OR len(v.t) = 1),
       tot2 AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM v2raw),
       vocab2 AS MATERIALIZED (
         SELECT v.token AS t,
           CAST(floor(1000000.0 * ln(v.c / tot2.t)) AS BIGINT) AS wt
         FROM v2raw v, tot2)${unigramDpCtes("vocab2", "r", 12)},
       toks AS (
         SELECT d.doc_id, d.wi, k.pos, k.tok
         FROM words0 d JOIN rwalk k USING (w)),
       ord AS (
         SELECT doc_id, tok, row_number() OVER (
           PARTITION BY doc_id ORDER BY wi, pos) AS rn
         FROM toks),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
           string_agg(tok, ' ' ORDER BY rn) FILTER (WHERE rn <= 20)
             AS head_subwords
         FROM ord GROUP BY doc_id)
       SELECT d.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
         coalesce(a.head_subwords, '') AS head_subwords
       FROM documents d LEFT JOIN agg a USING (doc_id)
       ORDER BY d.doc_id""",
    // seed vocab + unrolled Viterbi lattice + recursive path walk; counts
    // = wins per token weighted by word-type frequency
    "q143_unigram_estep" ->
      s"""WITH RECURSIVE ${unigramCtes(12)}
       SELECT k.tok AS token, CAST(sum(t.freq) AS BIGINT) AS count
       FROM walk k JOIN wt t USING (w)
       GROUP BY k.tok ORDER BY token""",
    // the same lattice walk joined back to per-doc word positions; q138's
    // aggregation tail
    "q144_unigram_encode" ->
      s"""WITH RECURSIVE ${unigramCtes(12)},
       toks AS (
         SELECT d.doc_id, d.wi, k.pos, k.tok
         FROM words0 d JOIN walk k USING (w)),
       ord AS (
         SELECT doc_id, tok, row_number() OVER (
           PARTITION BY doc_id ORDER BY wi, pos) AS rn
         FROM toks),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
           string_agg(tok, ' ' ORDER BY rn) FILTER (WHERE rn <= 20)
             AS head_subwords
         FROM ord GROUP BY doc_id)
       SELECT d.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
         coalesce(a.head_subwords, '') AS head_subwords
       FROM documents d LEFT JOIN agg a USING (doc_id)
       ORDER BY d.doc_id""",
    // incremental accumulate -> train must equal one-shot training: the
    // oracle is q137's verbatim
    "q142_bpe_from_drain" ->
      s"""WITH ${bpeCtes(8)}
       SELECT step, l AS merge_left, r2 AS merge_right, c AS pair_count
       FROM (${(1 to 8).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")})
       ORDER BY step""",
    // incremental accumulate -> train must equal one-shot training: the
    // oracle is q147's verbatim
    "q170_wordpiece_from_drain" ->
      s"""WITH ${wpCtes(8)}
       SELECT step, l AS merge_left, r2 AS merge_right, c AS pair_count,
         cl AS left_count, cr AS right_count
       FROM (${(1 to 8).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")})
       ORDER BY step""",
    // The full chain replayed: q137's training CTEs + q138's encode apply
    // steps give the per-doc subword stream; token ids are the portable
    // 60-bit hash mod 65536; the pack count is exact integer
    // (sum + 511) // 512 per source; the binary read-back aggregates are
    // the same id stream re-aggregated (the .bin layout adds nothing the
    // id multiset doesn't have — that's exactly what the Spark side must
    // prove by round-tripping the bytes).
    "q172_tokenizer_pipeline" ->
      s"""WITH ${bpeCtes(8)},
       dwords AS (
         SELECT doc_id, i AS wi, ws[i] AS w
         FROM norm, unnest(generate_series(1, len(ws))) u(i)
         WHERE len(ws[i]) > 0),
       a0 AS (
         SELECT doc_id, wi, '|' || array_to_string(list_transform(
             generate_series(1, len(w)), i -> substr(w, i, 1)), '||')
           || '|' AS s
         FROM dwords),
       ${(1 to 8).map(r =>
        s"""a$r AS (
         SELECT doc_id, wi, replace(s, '|' || m.l || '||' || m.r2 || '|',
             '|' || m.l || m.r2 || '|') AS s
         FROM a${r - 1}, m$r m)""").mkString(",\n")},
       toks AS (
         SELECT doc_id, CAST(${pHash60("t[j]")} % 65536 AS BIGINT) AS tid
         FROM (SELECT doc_id, string_split(trim(s, '|'), '||') AS t
               FROM a8),
           unnest(generate_series(1, len(t))) u(j)),
       src AS (
         SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT)
           AS src_idx
         FROM (SELECT DISTINCT source FROM documents)),
       dstats AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
         FROM toks GROUP BY doc_id),
       packagg AS (
         SELECT s.src_idx, CAST(count(*) AS BIGINT) AS n_docs,
           CAST((sum(ds.n_tokens) + 511) // 512 AS BIGINT) AS n_seqs
         FROM dstats ds JOIN documents d USING (doc_id)
           JOIN src s USING (source)
         GROUP BY 1),
       tokagg AS (
         SELECT s.src_idx, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(t.tid) AS BIGINT) AS token_sum,
           CAST(min(t.tid) AS BIGINT) AS token_min,
           CAST(max(t.tid) AS BIGINT) AS token_max
         FROM toks t JOIN documents d USING (doc_id)
           JOIN src s USING (source)
         GROUP BY 1)
       SELECT p.src_idx, s2.source, p.n_docs, p.n_seqs,
         t.n_tokens, t.token_sum, t.token_min, t.token_max
       FROM packagg p JOIN tokagg t USING (src_idx)
         JOIN src s2 USING (src_idx)
       ORDER BY src_idx""",
    // incremental accumulate -> seed + EM round must equal one-shot: the
    // oracle is q145's verbatim
    "q171_unigram_from_drain" ->
      s"""WITH RECURSIVE ${unigramCtes(12)},
       counts1 AS MATERIALIZED (
         SELECT k.tok AS t, CAST(sum(t2.freq) AS BIGINT) AS c
         FROM walk k JOIN wt t2 USING (w)
         GROUP BY k.tok),
       v2raw AS (
         SELECT v.t AS token,
           CASE WHEN coalesce(c1.c, 0) > 0 THEN c1.c ELSE 1 END AS c
         FROM vocab v LEFT JOIN counts1 c1 ON v.t = c1.t
         WHERE coalesce(c1.c, 0) > 0 OR len(v.t) = 1),
       tot2 AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM v2raw),
       vocab2 AS MATERIALIZED (
         SELECT v.token AS t,
           CAST(floor(1000000.0 * ln(v.c / tot2.t)) AS BIGINT) AS wt
         FROM v2raw v, tot2)${unigramDpCtes("vocab2", "r", 12)}
       SELECT k.tok AS token, CAST(sum(t2.freq) AS BIGINT) AS count
       FROM rwalk k JOIN wt t2 USING (w)
       GROUP BY k.tok ORDER BY token""",
    // Training chain + 8 unrolled apply steps over per-doc words; tokens
    // rebuilt from the final symbol strings in (word, position) order.
    "q138_bpe_encode" ->
      s"""WITH ${bpeCtes(8)},
       dwords AS (
         SELECT doc_id, i AS wi, ws[i] AS w
         FROM norm, unnest(generate_series(1, len(ws))) u(i)
         WHERE len(ws[i]) > 0),
       a0 AS (
         SELECT doc_id, wi, '|' || array_to_string(list_transform(
             generate_series(1, len(w)), i -> substr(w, i, 1)), '||')
           || '|' AS s
         FROM dwords),
       ${(1 to 8).map(r =>
        s"""a$r AS (
         SELECT doc_id, wi, replace(s, '|' || m.l || '||' || m.r2 || '|',
             '|' || m.l || m.r2 || '|') AS s
         FROM a${r - 1}, m$r m)""").mkString(",\n")},
       toks AS (
         SELECT doc_id, wi, j, t[j] AS tok
         FROM (SELECT doc_id, wi, string_split(trim(s, '|'), '||') AS t
               FROM a8),
           unnest(generate_series(1, len(t))) u(j)),
       ord AS (
         SELECT doc_id, tok, row_number() OVER (
           PARTITION BY doc_id ORDER BY wi, j) AS rn
         FROM toks),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
           string_agg(tok, ' ' ORDER BY rn) FILTER (WHERE rn <= 20)
             AS head_subwords
         FROM ord GROUP BY doc_id)
       SELECT d.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
         coalesce(a.head_subwords, '') AS head_subwords
       FROM documents d LEFT JOIN agg a USING (doc_id)
       ORDER BY d.doc_id""",
    "q130_decontaminate_spans" ->
      s"""WITH norm AS (
         SELECT doc_id, regexp_split_to_array(${normSql("text")}, ' ')
           AS words
         FROM documents),
       bnorm AS (
         SELECT words[1:12] AS bw FROM norm WHERE doc_id % 41 = 0),
       bh AS (
         SELECT DISTINCT ${pHash60("array_to_string(bw[i:i+7], ' ')")} AS h
         FROM bnorm, unnest(generate_series(1, len(bw) - 7)) u(i)),
       grams AS (
         SELECT doc_id, i - 1 AS pos,
           ${pHash60("array_to_string(words[i:i+7], ' ')")} AS h
         FROM norm, unnest(generate_series(1, len(words) - 7)) u(i)),
       flagged AS (SELECT g.doc_id, g.pos FROM grams g JOIN bh USING (h)),
       marked AS (
         SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + 8) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS newi
         FROM flagged),
       grp AS (
         SELECT doc_id, pos, sum(newi) OVER (
           PARTITION BY doc_id ORDER BY pos) AS island
         FROM marked),
       spans AS (
         SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
         FROM grp GROUP BY doc_id, island),
       toks AS (
         SELECT doc_id, i - 1 AS pos, words[i] AS wd
         FROM norm, unnest(generate_series(1, len(words))) u(i)),
       kept AS (
         SELECT t.doc_id, t.pos, t.wd FROM toks t
         WHERE NOT EXISTS (
           SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
             AND t.pos >= s.span_start AND t.pos < s.span_end)),
       agg AS (
         SELECT doc_id, count(*) AS n_kept,
           string_agg(wd, ' ' ORDER BY pos) AS clean_text
         FROM kept GROUP BY doc_id)
       SELECT n.doc_id, CAST(len(n.words) AS BIGINT) AS n_tokens,
         CAST(len(n.words) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
         coalesce(a.clean_text, '') AS clean_text
       FROM norm n LEFT JOIN agg a USING (doc_id)
       ORDER BY n.doc_id""",
    "q135_group_weighted_sample" ->
      s"""SELECT doc_id, lang, source, n_chars FROM (
         SELECT doc_id, lang, source, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY
             CAST(floor(1000000.0 * (ln(CAST(n_chars AS DOUBLE)) +
               -ln(-ln((CAST(${pHash60(
                 "concat('wsample:', CAST(doc_id AS VARCHAR))")} AS DOUBLE)
                 + 0.5) / 1152921504606846976.0)))) AS BIGINT) DESC,
             doc_id) AS rk
         FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
       WHERE rk <= 20 ORDER BY doc_id""",
    "q129_weighted_sample" ->
      s"""SELECT doc_id, lang, source, n_chars FROM (
         SELECT doc_id, lang, source, n_chars,
           CAST(floor(1000000.0 * (ln(CAST(n_chars AS DOUBLE)) +
             -ln(-ln((CAST(${pHash60(
               "concat('wsample:', CAST(doc_id AS VARCHAR))")} AS DOUBLE)
               + 0.5) / 1152921504606846976.0)))) AS BIGINT) AS wk
         FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
         ORDER BY wk DESC, doc_id LIMIT 120)
       ORDER BY doc_id""",
    // Every stage of the selection composite replayed: rule gates reuse the
    // q93/q63 fragments, the LM stages reuse the q124/q125 weight CTEs, the
    // Gumbel key is q124's (same tag).
    "q128_selection_pipeline" ->
      s"""$dsirCtes,
       wts AS (
         SELECT tp.b,
           CAST(floor(1000000.0 * ln(
             CAST(greatest(tp.c * 1000000000 // tt.t, 1) AS DOUBLE) /
             CAST(greatest(rp.c * 1000000000 // rt.t, 1) AS DOUBLE)))
             AS BIGINT) AS w
         FROM tp, tt, rp, rt WHERE tp.b = rp.b),
       lw AS (
         SELECT tp.b,
           CAST(floor(1000000.0 * ln(
             CAST(greatest(tp.c * 1000000000 // tt.t, 1) AS DOUBLE) /
             1000000000.0)) AS BIGINT) AS w
         FROM tp, tt),
       lp AS (
         SELECT doc_id, text, source,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           ${langScoresSql("text")}
         FROM documents),
       gated AS (
         SELECT doc_id, text, source FROM lp
         WHERE $langPredSql = 'en' AND n_tokens >= 20),
       ce AS (
         SELECT f.doc_id, CAST(count(*) AS BIGINT) AS nf,
           CAST(sum(lw.w) AS BIGINT) AS ll
         FROM feats f JOIN lw ON f.b = lw.b GROUP BY f.doc_id),
       survivors AS (
         SELECT g.doc_id, g.source, (-ce.ll) // ce.nf AS ce_micro
         FROM gated g JOIN ce ON g.doc_id = ce.doc_id
         WHERE (-ce.ll) // ce.nf <= 5300000),
       sc AS (
         SELECT f.doc_id, CAST(sum(w.w) AS BIGINT) AS dsir_score
         FROM feats f JOIN wts w ON f.b = w.b GROUP BY f.doc_id),
       keyed AS (
         SELECT v.doc_id, v.source, v.ce_micro,
           coalesce(s.dsir_score, 0) AS dsir_score,
           coalesce(s.dsir_score, 0) + CAST(floor(1000000.0 *
             -ln(-ln((CAST(${pHash60(
               "concat('dsir:', CAST(v.doc_id AS VARCHAR))")} AS DOUBLE)
               + 0.5) / 1152921504606846976.0))) AS BIGINT) AS k
         FROM survivors v LEFT JOIN sc s ON v.doc_id = s.doc_id),
       sel AS (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 100)
       SELECT doc_id, source, dsir_score, ce_micro FROM sel
       ORDER BY doc_id""",
    "q126_jl_topk" ->
      s"""WITH planes AS ($jlPlanesSql),
       corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       proj AS (
         SELECT vec_id, list(dp ORDER BY b) AS pv FROM (
           SELECT c.vec_id, p.b, list_dot_product(c.v, p.plane) AS dp
           FROM corp c CROSS JOIN planes p)
         GROUP BY vec_id),
       q AS (SELECT vec_id AS query_id, pv AS qv FROM proj WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id,
           round(list_dot_product(e.pv, q.qv)
             / (sqrt(list_dot_product(e.pv, e.pv))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_proj
         FROM proj e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_proj DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine_proj FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine_proj DESC, vec_id""",
    "q136_ivf_sq_probe" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM corp ORDER BY hk, vec_id LIMIT 16)),
       cdists AS (
         SELECT c.vec_id, t.ci,
           list_dot_product(t.cvec, t.cvec)
             - 2.0 * list_dot_product(c.v, t.cvec) AS s
         FROM corp c CROSS JOIN cents t),
       assigned AS (
         SELECT vec_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists) WHERE rn = 1),
       probes AS (
         SELECT vec_id AS query_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists WHERE vec_id < 5) WHERE rn <= 4),
       dims AS (
         SELECT i AS d, min(v[i]) AS mn, max(v[i]) AS mx
         FROM corp, unnest(generate_series(1, len(v))) u(i)
         GROUP BY i),
       codes AS (
         SELECT c.vec_id, list(
             CASE WHEN dm.mx = dm.mn THEN 0
             ELSE least(255, greatest(0, CAST(round(
               (c.v[dm.d] - dm.mn) * (255.0 / (dm.mx - dm.mn)))
               AS INTEGER))) END
           ORDER BY dm.d) AS code
         FROM corp c CROSS JOIN dims dm
         GROUP BY c.vec_id),
       dec AS (
         SELECT k.vec_id, list(
             dm.mn + k.code[dm.d] * ((dm.mx - dm.mn) / 255.0)
           ORDER BY dm.d) AS dv
         FROM codes k CROSS JOIN dims dm
         GROUP BY k.vec_id),
       q AS (
         SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 5),
       cand AS (
         SELECT p.query_id, a.vec_id
         FROM probes p JOIN assigned a ON p.cell = a.cell
         WHERE a.vec_id <> p.query_id),
       scored AS (
         SELECT c.query_id, c.vec_id,
           round(list_dot_product(e.dv, q.qv)
             / (sqrt(list_dot_product(e.dv, e.dv))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
         FROM cand c JOIN dec e ON c.vec_id = e.vec_id
           JOIN q ON c.query_id = q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine DESC, vec_id""",
    // q139's chain with the residual twist: codes quantize the float32
    // residual v − c(v), codebooks are the residuals of hash-order rows
    // 17..32 (skipping the 16 center rows, whose own residuals are zero),
    // and reconstruction adds the centroid back.
    "q141_ivf_pq_residual" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
         FROM embeddings),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec, hk
               FROM corp ORDER BY hk, vec_id LIMIT 16)),
       cdists AS (
         SELECT c.vec_id, t.ci,
           list_dot_product(t.cvec, t.cvec)
             - 2.0 * list_dot_product(c.v, t.cvec) AS s
         FROM corp c CROSS JOIN cents t),
       assigned AS (
         SELECT vec_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists) WHERE rn = 1),
       probes AS (
         SELECT vec_id AS query_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists WHERE vec_id < 5) WHERE rn <= 4),
       res AS (
         SELECT c.vec_id, c.hk, a.cell,
           CAST(CAST(list_transform(generate_series(1, len(c.v)),
               i -> c.v[i] - t.cvec[i]) AS FLOAT[]) AS DOUBLE[]) AS r
         FROM corp c JOIN assigned a USING (vec_id)
           JOIN cents t ON a.cell = t.ci),
       bsample AS (
         SELECT r AS bvec, row_number() OVER (ORDER BY hk, vec_id) AS rn
         FROM (SELECT vec_id, hk, r FROM res ORDER BY hk, vec_id LIMIT 32)),
       books AS (SELECT bvec, rn - 17 AS bi FROM bsample WHERE rn >= 17),
       dists AS (
         SELECT s.vec_id, u.m, b.bi,
           list_dot_product(b.bvec[u.m*8+1 : u.m*8+8],
                            b.bvec[u.m*8+1 : u.m*8+8])
             - 2.0 * list_dot_product(s.r[u.m*8+1 : u.m*8+8],
                                      b.bvec[u.m*8+1 : u.m*8+8]) AS dd
         FROM res s
           CROSS JOIN unnest(generate_series(0, 7)) u(m)
           CROSS JOIN books b),
       argm AS (
         SELECT vec_id, m, bi FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dd, bi) AS rn
           FROM dists) WHERE rn = 1),
       rdec AS (
         SELECT a.vec_id,
           flatten(list(b.bvec[a.m*8+1 : a.m*8+8] ORDER BY a.m)) AS rdv
         FROM argm a JOIN books b ON a.bi = b.bi
         GROUP BY a.vec_id),
       dec AS (
         SELECT d.vec_id, list_transform(generate_series(1, len(t.cvec)),
             i -> t.cvec[i] + d.rdv[i]) AS dv
         FROM rdec d JOIN assigned a USING (vec_id)
           JOIN cents t ON a.cell = t.ci),
       q AS (
         SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 5),
       cand AS (
         SELECT p.query_id, a.vec_id
         FROM probes p JOIN assigned a ON p.cell = a.cell
         WHERE a.vec_id <> p.query_id),
       scored AS (
         SELECT c.query_id, c.vec_id,
           round(list_dot_product(e.dv, q.qv)
             / (sqrt(list_dot_product(e.dv, e.dv))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
         FROM cand c JOIN dec e ON c.vec_id = e.vec_id
           JOIN q ON c.query_id = q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine DESC, vec_id""",
    // q136's cell/probe machinery composed with q134's PQ codebook chain:
    // same 16 hash-sampled centers double as coarse cells; candidates from
    // probed cells are PQ-reconstructed and re-ranked asymmetrically.
    "q139_ivf_pq_probe" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM corp ORDER BY hk, vec_id LIMIT 16)),
       cdists AS (
         SELECT c.vec_id, t.ci,
           list_dot_product(t.cvec, t.cvec)
             - 2.0 * list_dot_product(c.v, t.cvec) AS s
         FROM corp c CROSS JOIN cents t),
       assigned AS (
         SELECT vec_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists) WHERE rn = 1),
       probes AS (
         SELECT vec_id AS query_id, ci AS cell FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY s, ci) AS rn
           FROM cdists WHERE vec_id < 5) WHERE rn <= 4),
       dists AS (
         SELECT c.vec_id, s.m, t.ci,
           list_dot_product(t.cvec[s.m*8+1 : s.m*8+8],
                            t.cvec[s.m*8+1 : s.m*8+8])
             - 2.0 * list_dot_product(c.v[s.m*8+1 : s.m*8+8],
                                      t.cvec[s.m*8+1 : s.m*8+8]) AS dd
         FROM corp c
           CROSS JOIN unnest(generate_series(0, 7)) s(m)
           CROSS JOIN cents t),
       argm AS (
         SELECT vec_id, m, ci FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dd, ci) AS rn
           FROM dists) WHERE rn = 1),
       dec AS (
         SELECT a.vec_id,
           flatten(list(t.cvec[a.m*8+1 : a.m*8+8] ORDER BY a.m)) AS dv
         FROM argm a JOIN cents t ON a.ci = t.ci
         GROUP BY a.vec_id),
       q AS (
         SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 5),
       cand AS (
         SELECT p.query_id, a.vec_id
         FROM probes p JOIN assigned a ON p.cell = a.cell
         WHERE a.vec_id <> p.query_id),
       scored AS (
         SELECT c.query_id, c.vec_id,
           round(list_dot_product(e.dv, q.qv)
             / (sqrt(list_dot_product(e.dv, e.dv))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
         FROM cand c JOIN dec e ON c.vec_id = e.vec_id
           JOIN q ON c.query_id = q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine DESC, vec_id""",
    "q134_pq_topk" ->
      s"""WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cents AS (
         SELECT cvec, row_number() OVER (ORDER BY hk, vec_id) - 1 AS ci
         FROM (SELECT vec_id, v AS cvec,
                 ${pHash60("CAST(vec_id AS VARCHAR)")} AS hk
               FROM corp ORDER BY hk, vec_id LIMIT 16)),
       dists AS (
         SELECT c.vec_id, s.m, t.ci,
           list_dot_product(t.cvec[s.m*8+1 : s.m*8+8],
                            t.cvec[s.m*8+1 : s.m*8+8])
             - 2.0 * list_dot_product(c.v[s.m*8+1 : s.m*8+8],
                                      t.cvec[s.m*8+1 : s.m*8+8]) AS dd
         FROM corp c
           CROSS JOIN unnest(generate_series(0, 7)) s(m)
           CROSS JOIN cents t),
       argm AS (
         SELECT vec_id, m, ci FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dd, ci) AS rn
           FROM dists) WHERE rn = 1),
       dec AS (
         SELECT a.vec_id,
           flatten(list(t.cvec[a.m*8+1 : a.m*8+8] ORDER BY a.m)) AS dv
         FROM argm a JOIN cents t ON a.ci = t.ci
         GROUP BY a.vec_id),
       q AS (
         SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id,
           round(list_dot_product(e.dv, q.qv)
             / (sqrt(list_dot_product(e.dv, e.dv))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_pq
         FROM dec e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_pq DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine_pq FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine_pq DESC, vec_id""",
    "q133_sq8_topk" ->
      """WITH corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       dims AS (
         SELECT i AS d, min(v[i]) AS mn, max(v[i]) AS mx
         FROM corp, unnest(generate_series(1, len(v))) u(i)
         GROUP BY i),
       codes AS (
         SELECT c.vec_id, list(
             CASE WHEN dm.mx = dm.mn THEN 0
             ELSE least(255, greatest(0, CAST(round(
               (c.v[dm.d] - dm.mn) * (255.0 / (dm.mx - dm.mn)))
               AS INTEGER))) END
           ORDER BY dm.d) AS code
         FROM corp c CROSS JOIN dims dm
         GROUP BY c.vec_id),
       dec AS (
         SELECT k.vec_id, list(
             dm.mn + k.code[dm.d] * ((dm.mx - dm.mn) / 255.0)
           ORDER BY dm.d) AS dv
         FROM codes k CROSS JOIN dims dm
         GROUP BY k.vec_id),
       q AS (
         SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id,
           round(list_dot_product(e.dv, q.qv)
             / (sqrt(list_dot_product(e.dv, e.dv))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sq
         FROM dec e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_sq DESC, vec_id) AS rn
         FROM scored)
       SELECT query_id, vec_id, cosine_sq FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine_sq DESC, vec_id""",
    "q127_rerank_topk" ->
      s"""WITH planes AS ($jlPlanesSql),
       corp AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       proj AS (
         SELECT vec_id, list(dp ORDER BY b) AS pv FROM (
           SELECT c.vec_id, p.b, list_dot_product(c.v, p.plane) AS dp
           FROM corp c CROSS JOIN planes p)
         GROUP BY vec_id),
       q AS (SELECT vec_id AS query_id, pv AS qv FROM proj WHERE vec_id < 5),
       pscored AS (
         SELECT q.query_id, e.vec_id,
           round(list_dot_product(e.pv, q.qv)
             / (sqrt(list_dot_product(e.pv, e.pv))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cp
         FROM proj e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       cands AS (
         SELECT query_id, vec_id FROM (
           SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cp DESC, vec_id) AS rn
           FROM pscored) WHERE rn <= 30),
       qf AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 5),
       ex AS (
         SELECT c.query_id, c.vec_id,
           round(list_dot_product(e.v, qf.qv)
             / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(qf.qv, qf.qv))), 6) AS cosine
         FROM cands c JOIN corp e ON c.vec_id = e.vec_id
           JOIN qf ON c.query_id = qf.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
         FROM ex)
       SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 10
       ORDER BY query_id, cosine DESC, vec_id""",

    // Independent mechanics: a padded position scan (every start offset ×
    // every term) instead of an automaton — overlap-inclusive by
    // construction, and the O(len·terms) cost is the exact shape the
    // engine's one-pass Aho–Corasick replaces.
    "q184_blocklist_hits" -> s"""WITH
       t AS (SELECT unnest(['batch batch', 'slow join', 'window window',
         'fast key order', 'customer data', 'the',
         'quantum flux capacitor']) AS term),
       d AS (SELECT doc_id, ' ' || ${normSql("text")} || ' ' AS x
         FROM documents)
       SELECT d.doc_id, t.term, CAST(count(*) AS BIGINT) AS n_hits
       FROM d, t,
         LATERAL (SELECT unnest(range(1, len(d.x) + 1)) AS p) AS gs
       WHERE substr(d.x, CAST(gs.p AS INTEGER),
           len(' ' || t.term || ' ')) = ' ' || t.term || ' '
       GROUP BY d.doc_id, t.term
       ORDER BY d.doc_id, t.term""",

    // Replays the sketch algebra over the same portable hashes: k-min
    // arrays via a per-source rank window, trimK(union) by list algebra,
    // and the estimator CASE in the exact IEEE expression order the
    // engine uses (63.0 · 2⁶⁰ is exactly representable, so the one
    // division is bit-reproducible).
    "q185_kmv_overlap" -> s"""WITH norm AS (
         SELECT source, list_filter(
           regexp_split_to_array(${normSql("text")}, ' '),
           w -> len(w) > 0) AS ws
         FROM documents),
       sh AS (
         SELECT DISTINCT source, t FROM (
           SELECT source, unnest(list_transform(
             generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS t
           FROM norm WHERE len(ws) >= 3)),
       h AS (SELECT DISTINCT source, ${pHash60("t")} AS h FROM sh),
       ranked AS (
         SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         FROM h),
       sk AS (
         SELECT source, list_sort(list(h)) AS sk
         FROM ranked WHERE rn <= 64 GROUP BY source),
       pairs AS (
         SELECT a.source AS source_a, b.source AS source_b,
           a.sk AS ska, b.sk AS skb,
           list_sort(list_distinct(a.sk || b.sk))[1:64] AS L
         FROM sk a JOIN sk b ON a.source < b.source),
       calc AS (
         SELECT source_a, source_b,
           CAST(len(ska) AS BIGINT) AS n_a,
           CAST(len(skb) AS BIGINT) AS n_b,
           CAST(len(list_intersect(L, list_intersect(ska, skb)))
             AS BIGINT) AS n_both,
           CAST(len(L) AS BIGINT) AS l,
           CASE WHEN len(L) < 64 THEN CAST(len(L) AS DOUBLE)
                ELSE 63.0 * 1152921504606846976.0 / CAST(L[64] AS DOUBLE)
           END AS union_est
         FROM pairs),
       est AS (
         SELECT source_a, source_b, n_a, n_b, n_both, union_est,
           CAST(n_both AS DOUBLE) * union_est / CAST(l AS DOUBLE)
             AS inter_est,
           (1000000 * n_both) // l AS jaccard_micro
         FROM calc),
       exact AS (
         SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS exact_inter
         FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2)
       SELECT e.source_a, e.source_b, e.n_a, e.n_b, e.n_both, e.union_est,
         e.inter_est, e.jaccard_micro,
         coalesce(x.exact_inter, 0) AS exact_inter
       FROM est e LEFT JOIN exact x
         ON e.source_a = x.source_a AND e.source_b = x.source_b
       ORDER BY e.source_a, e.source_b""",

    // Two peel rounds unrolled over the same kNN edge CTEs as q173/q176:
    // round r = degrees over the round-(r−1) symmetric edge set, survivors
    // with degree >= 4, edges restricted to survivors on BOTH endpoints.
    "q186_kcore" -> s"""WITH $knnEdgesCtesSql,
       kund AS MATERIALIZED (
         SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM edges WHERE src <> dst),
       ks0 AS MATERIALIZED (
         SELECT a AS node, b AS nbr FROM kund
         UNION ALL SELECT b, a FROM kund),
       ${(1 to 2).map { r =>
        val prev = if (r == 1) "ks0" else s"ks${r - 1}"
        s"""ka$r AS (
         SELECT node FROM (
           SELECT node, count(*) AS c FROM $prev GROUP BY node)
         WHERE c >= 4),
       ks$r AS MATERIALIZED (
         SELECT s.node, s.nbr FROM $prev s
           JOIN ka$r x ON s.node = x.node
           JOIN ka$r y ON s.nbr = y.node)"""
      }.mkString(",\n       ")}
       SELECT node, CAST(count(*) AS BIGINT) AS deg
       FROM ks2 GROUP BY node ORDER BY node""",

    // Two unrolled peel rounds: per-edge support via the aligned wedge
    // join over the previous round's survivors.
    "q236_ktruss" -> s"""WITH $knnEdgesCtesSql,
       t0 AS MATERIALIZED (
         SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM edges WHERE src <> dst),
       ${(1 to 2).map { r =>
        val prev = s"t${r - 1}"
        s"""adj$r AS MATERIALIZED (
         SELECT a AS x, b AS n FROM $prev UNION ALL SELECT b, a FROM $prev),
       s$r AS MATERIALIZED (
         SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
         FROM $prev e
           JOIN adj$r p ON p.x = e.a
           JOIN adj$r q ON q.x = e.b AND q.n = p.n
         GROUP BY e.a, e.b HAVING count(*) >= 1),
       t$r AS MATERIALIZED (SELECT a, b FROM s$r)"""
      }.mkString(",\n       ")}
       SELECT a, b, support FROM s2 ORDER BY a, b""",

    // The q157 PageRank round replay with the teleport restricted to
    // seeds {0, 1}: r0 = Scale // 2 on seeds and 0 elsewhere; each round
    // adds the seed-only teleport to the damped contribution sum.
    "q187_ppr_expansion" -> s"""WITH $knnEdgesCtesSql,
       nodes AS MATERIALIZED (
         SELECT DISTINCT node FROM (
           SELECT src AS node FROM edges
           UNION ALL SELECT dst AS node FROM edges)),
       deg AS MATERIALIZED (
         SELECT src, CAST(count(*) AS BIGINT) AS d
         FROM edges GROUP BY src),
       p0 AS MATERIALIZED (
         SELECT node,
           CASE WHEN node IN (0, 1)
             THEN CAST(1000000000000 AS BIGINT) // 2
             ELSE CAST(0 AS BIGINT) END AS r
         FROM nodes),
       ${(1 to 3).map { r =>
        s"""p$r AS MATERIALIZED (
         SELECT nd.node,
           CASE WHEN nd.node IN (0, 1)
             THEN (15 * CAST(1000000000000 AS BIGINT)) // (100 * 2)
             ELSE CAST(0 AS BIGINT) END
             + (85 * coalesce(s.s, 0)) // 100 AS r
         FROM nodes nd
           LEFT JOIN (
             SELECT e.dst AS node, CAST(sum(pr.r // g.d) AS BIGINT) AS s
             FROM edges e
               JOIN ${if (r == 1) "p0" else s"p${r - 1}"} pr ON pr.node = e.src
               JOIN deg g ON g.src = e.src
             GROUP BY e.dst) s ON s.node = nd.node)"""
      }.mkString(",\n")}
       SELECT node, r AS rank_fx FROM p3
       ORDER BY rank_fx DESC, node LIMIT 25""",

    // Character-level rebuild from coverage islands: a match at padded
    // position p covers x chars [p, p+len(term)-1]; a char emits itself
    // when uncovered, the mask when it STARTS a covered island, nothing
    // otherwise — string_agg in char order reassembles the document.
    "q188_blocklist_scrub" -> s"""WITH
       t AS (SELECT unnest(['batch batch', 'slow join', 'window window',
         'fast key order', 'customer data', 'the',
         'quantum flux capacitor']) AS term),
       d AS (SELECT doc_id, ${normSql("text")} AS x FROM documents),
       mt AS (
         SELECT d.doc_id, gs.p AS s0, gs.p + len(t.term) - 1 AS e0
         FROM d, t,
           LATERAL (SELECT unnest(range(1, len(' ' || d.x || ' ') + 1))
             AS p) AS gs
         WHERE substr(' ' || d.x || ' ', CAST(gs.p AS INTEGER),
             len(' ' || t.term || ' ')) = ' ' || t.term || ' '),
       chars AS (
         SELECT doc_id, x, unnest(range(1, len(x) + 1)) AS i FROM d),
       cv AS (
         SELECT c.doc_id, c.x, c.i, count(m.s0) > 0 AS cov
         FROM chars c LEFT JOIN mt m
           ON m.doc_id = c.doc_id AND c.i BETWEEN m.s0 AND m.e0
         GROUP BY c.doc_id, c.x, c.i),
       rb AS (
         SELECT doc_id, i,
           CASE WHEN NOT cov THEN substr(x, CAST(i AS INTEGER), 1)
                WHEN NOT coalesce(lag(cov) OVER (
                  PARTITION BY doc_id ORDER BY i), FALSE) THEN 'xxx'
                ELSE '' END AS piece
         FROM cv),
       res AS (
         SELECT doc_id, string_agg(piece, '' ORDER BY i) AS scrubbed
         FROM rb GROUP BY doc_id)
       SELECT r.doc_id, r.scrubbed
       FROM res r JOIN d ON d.doc_id = r.doc_id
       WHERE r.scrubbed <> d.x
       ORDER BY r.doc_id""",

    // Chunk starts = multiples of step (24) kept while the window adds
    // uncovered tokens; chunk_id = start // step (kept starts are always
    // a prefix of the sequence, so the index stays dense).
    "q189_chunk_by_tokens" -> s"""WITH
       d AS (SELECT doc_id, list_filter(
           regexp_split_to_array(trim(text), '\\s+'), w -> len(w) > 0) AS ws
         FROM documents),
       nn AS (SELECT doc_id, ws, len(ws) AS n FROM d WHERE len(ws) > 0),
       ch AS (SELECT doc_id, ws, n,
           unnest(list_filter(range(0, n, 24),
             s -> s = 0 OR s - 24 + 32 < n)) AS s
         FROM nn)
       SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
         array_to_string(ws[s+1 : least(s + 32, n)], ' ') AS chunk_text,
         CAST(least(32, n - s) AS BIGINT) AS n_tokens
       FROM ch ORDER BY doc_id, chunk_id""",

    "q190_quality_checks" -> s"""WITH rep AS (
         SELECT 'not_null' AS chk, 'l_orderkey' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END),
             0) AS BIGINT) AS n_violations
         FROM lineitem
         UNION ALL
         SELECT 'in_range', 'l_quantity', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN l_quantity IS NULL
             OR l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END), 0)
             AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'accepted_values', 'l_returnflag', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN l_returnflag IS NULL
             OR l_returnflag NOT IN ('A', 'N') THEN 1 ELSE 0 END), 0)
             AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'unique', 'l_orderkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT l_orderkey) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'unique', 'o_orderkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'ref_integrity', 'l_orderkey',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
              LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
                ON l.l_orderkey = o.o_orderkey
              WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL))
       SELECT chk AS "check", col AS "column", n_rows, n_violations,
         CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
           AS pass
       FROM rep ORDER BY chk, col""",

    // q190's row-level subset verbatim: incremental ≡ one-shot is the
    // drain contract.
    "q191_checks_incremental" -> s"""WITH rep AS (
         SELECT 'not_null' AS chk, 'l_orderkey' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END),
             0) AS BIGINT) AS n_violations
         FROM lineitem
         UNION ALL
         SELECT 'in_range', 'l_quantity', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN l_quantity IS NULL
             OR l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END), 0)
             AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'accepted_values', 'l_returnflag', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN l_returnflag IS NULL
             OR l_returnflag NOT IN ('A', 'N') THEN 1 ELSE 0 END), 0)
             AS BIGINT)
         FROM lineitem)
       SELECT chk AS "check", col AS "column", n_rows, n_violations,
         CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
           AS pass
       FROM rep ORDER BY chk, col""",

    // Every stage is a previously-oracled construction composed: the
    // blocklist position scan (q184), the chunk slicing (q189), the
    // portable fingerprint (q64), keep-first (q60), and the global
    // row_number the engine's dense-id operator refuses to plan (q194).
    "q195_curation_composite" -> s"""WITH
       t AS (SELECT unnest(['batch batch', 'slow join', 'window window',
         'customer data']) AS term),
       d AS (SELECT doc_id, text,
           ' ' || ${normSql("text")} || ' ' AS px
         FROM documents),
       flagged AS (
         SELECT DISTINCT d.doc_id
         FROM d, t,
           LATERAL (SELECT unnest(range(1, len(d.px) + 1)) AS p) AS gs
         WHERE substr(d.px, CAST(gs.p AS INTEGER),
             len(' ' || t.term || ' ')) = ' ' || t.term || ' '),
       surv AS (
         SELECT doc_id, text FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
       ws AS (SELECT doc_id, list_filter(
           regexp_split_to_array(trim(text), '\\s+'), w -> len(w) > 0) AS ws
         FROM surv),
       nn AS (SELECT doc_id, ws, len(ws) AS n FROM ws WHERE len(ws) > 0),
       ch AS (SELECT doc_id, ws, n,
           unnest(list_filter(range(0, n, 24),
             s -> s = 0 OR s - 24 + 32 < n)) AS s
         FROM nn),
       fp AS (
         SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
           CAST(least(32, n - s) AS BIGINT) AS n_tokens,
           ${pHash60("array_to_string(ws[s+1 : least(s + 32, n)], ' ')")}
             AS fp
         FROM ch),
       kept AS (
         SELECT doc_id, chunk_id, n_tokens, fp FROM (
           SELECT *, row_number() OVER (
             PARTITION BY fp ORDER BY doc_id, chunk_id) AS rk
           FROM fp) WHERE rk = 1)
       SELECT doc_id, chunk_id, n_tokens, fp,
         CAST(row_number() OVER (ORDER BY doc_id, chunk_id) - 1 AS BIGINT)
           AS row_id
       FROM kept ORDER BY row_id""",

    // One UNION branch per column; dtype literals mirror Spark's
    // simpleString for the parquet-read schema.
    "q192_column_profile" -> {
      val cols = Seq(
        "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz")
      cols.map { case (c, t) =>
        s"""SELECT '$c' AS "column", '$t' AS dtype,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           FROM lineitem"""
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q258_repetition_screen" ->
      """WITH d AS (
         SELECT doc_id, string_split(text, ' ') AS w,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM documents),
       g2 AS (
         SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
         FROM d, unnest(generate_series(1, greatest(len(w) - 1, 0)))
           AS t(i)),
       c2 AS (
         SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS n
         FROM g2 GROUP BY doc_id, gram),
       t2 AS (
         SELECT doc_id, gram, n FROM (
           SELECT doc_id, gram, n, row_number() OVER (PARTITION BY doc_id
             ORDER BY n DESC, gram DESC) AS rn
           FROM c2) WHERE rn = 1),
       g5 AS (
         SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
           w[i+3] || ' ' || w[i+4] AS gram
         FROM d, unnest(generate_series(1, greatest(len(w) - 4, 0)))
           AS t(i)),
       c5 AS (
         SELECT doc_id, gram, count(*) AS n
         FROM g5 GROUP BY doc_id, gram),
       d5 AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN n >= 2 THEN n * length(gram) ELSE 0 END)
             AS BIGINT) AS dupchars
         FROM c5 GROUP BY doc_id)
       SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens, d.n_chars,
         coalesce(t2.gram, '') AS top2_gram,
         coalesce(t2.n, 0) AS top2_n,
         CAST(coalesce((1000 * t2.n * length(t2.gram))
           // greatest(d.n_chars, 1), 0) AS BIGINT) AS top_char_permille,
         CAST(coalesce((1000 * d5.dupchars)
           // greatest(d.n_chars, 1), 0) AS BIGINT) AS dup_char_permille
       FROM d LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
       ORDER BY d.doc_id"""
  )
}
