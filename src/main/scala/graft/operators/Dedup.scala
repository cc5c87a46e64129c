package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}

/** Deduplication pack (driver brief: first-class alongside SURVEY.md §2).
  *
  * Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — each designed
  * for the 100 TB path:
  *  - exact dedup groups on an 8-byte fingerprint, not the document text;
  *  - MinHash candidates come from an equi-join on (band, band-hash) buckets,
  *    never an all-pairs comparison;
  *  - keep-first semantics use an explicit ordering column
  *    (SURVEY.md §7.5.2 — never `monotonically_increasing_id`).
  *
  * Reference analogue: `_dedupe(entries, key_fn)` keep-first
  * (`aeon/dj_pipeline/utils/load_metadata.py:37-46`) and
  * `skip_duplicates=True` inserts.
  */
object Dedup {

  /** Exact dedup, keep-first by `orderCol` within each normalized-text
    * fingerprint group. One shuffle on the 8-byte fingerprint.
    */
  def exactByText(docs: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(orderCol))
    docs.withColumn("__fp", TextFunctions.fingerprint64(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Keep-first dedup on explicit key columns (general form of `_dedupe`). */
  def keepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** One row per (doc, shingle position): word n-grams built with window
    * `lead` over exploded words — every step (split, explode, lead, concat)
    * is codegen'd. The array-lambda alternative (`transform` + `slice` per
    * position) evaluates interpreted at O(words²) per doc and measured ~25 s
    * for 5000 small docs; this shape does the same work in well under a
    * second and scales out (one shuffle keyed by doc id).
    * Docs with fewer than n words yield no rows (no complete shingle).
    */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    val words = docs.select(col(idCol),
      posexplode(split(TextFunctions.normalizeForDedup(col(textCol)), " "))
        .as(Seq("__pos", "__w")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = col("__w") +: (1 until n).map(k => lead(col("__w"), k).over(w))
    words
      .select(col(idCol), col("__pos"), concat_ws(" ", parts: _*).as("__s"),
        parts.last.isNotNull.as("__complete"))
      .filter(col("__complete"))
      .drop("__complete")
  }

  /** MinHash signatures `(idCol, minhash: array<long>)` via the portable
    * seeded family ([[HashFunctions.portableSeededHash]]): seed i hashes a
    * shingle as `(h60 + i·h60b) mod 2⁶⁰` — full-width Kirsch–Mitzenmacher
    * over two 60-bit slices of ONE md5, exact integer arithmetic any
    * engine reproduces, so the signatures are oracle-checkable, not
    * engine-private. (The step must be FULL-width: a narrow one — the
    * 28-bit h2 mistake — never outweighs the hash-range gaps between
    * shingles, all seeds share one argmin, and the signature degenerates
    * to a single hash function; TextSignaturesSpec pins the regression.)
    *
    * Shape matters at scale: shingles stream out of [[shingleRows]] and the
    * per-seed minima are plain `min` aggregates — fully codegen'd with
    * map-side partials, so the shuffle carries |docs| × numHashes longs,
    * never text. (Min over the shingle multiset equals min over the set, so
    * no distinct is needed.)
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(HashFunctions.portableSeededHash(col("__s"), i)).as(s"__h$i"))
    shingleRows(docs, idCol, textCol, shingleN)
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("minhash"))
  }

  /** [[minhashSignatures]] as ONE fused codegen pass per document
    * (graft.expressions.MinhashSignature): identical values — equality is
    * spec-pinned — with zero shuffles; the composed shape pays a window
    * shuffle + grouped aggregate only because array lambdas are
    * interpreted. Prefer this form; the composed one remains as the
    * executable specification of the construction.
    */
  def minhashSignaturesFused(docs: DataFrame, idCol: String, textCol: String,
                             numHashes: Int = 64, shingleN: Int = 3): DataFrame =
    nonNullKernel(docs, col(idCol), "minhash",
      graft.functions.HashFunctions.minhashSignature(
        TextFunctions.normalizeForDedup(col(textCol)), numHashes, shingleN))

  /** [[simhashSignatures]] fused into one codegen pass per document — same
    * rationale and equality guarantee as [[minhashSignaturesFused]] (the
    * null filter matches the composed shape, which emits no group for a
    * null-text doc). */
  def simhashSignaturesFused(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    nonNullKernel(docs, col(idCol), "simhash",
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.SimhashSignature(
          org.apache.spark.sql.GraftColumnBridge.expression(
            TextFunctions.normalizeForDedup(col(textCol))))))

  /** [[winnowFingerprints]] fused into one codegen pass per document — same
    * rationale and equality guarantee as [[minhashSignaturesFused]]. */
  def winnowFingerprintsFused(docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 3, windowSize: Int = 4): DataFrame =
    nonNullKernel(docs, col(idCol), "fingerprints",
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.WinnowFingerprints(
          org.apache.spark.sql.GraftColumnBridge.expression(
            TextFunctions.normalizeForDedup(col(textCol))),
          shingleN, windowSize)))

  /** `(id, name)`: `kernel` projected beside `id`, rows where it is null
    * dropped, and the kernel evaluated ONCE per row. The plain
    * `select(kernel).filter(isNotNull)` shape lets Catalyst push the filter
    * beneath the projection, and the executed plan then runs the kernel in
    * both the `Filter` and the `Project` — twice per row. Projecting it
    * through a one-element `inline` puts the filter above a `Generate`,
    * whose generated columns no predicate can be pushed past; the stage
    * stays whole-stage codegen'd. */
  private def nonNullKernel(docs: DataFrame, id: Column, name: String,
                            kernel: Column): DataFrame =
    docs.select(id, inline(array(struct(kernel.as(name)))))
      .filter(col(name).isNotNull)

  /** All unordered pairs within each key-group, SINGLE PASS over the input:
    * group → sorted payload array → explode (element, strictly-later
    * elements). Replaces the self-equi-join shape, which evaluates the
    * (expensive) upstream signature pipeline once per join side — measured
    * 2–3× redundant compute on the dedup queries. The payload struct's FIRST
    * field must be the id: `sort_array` orders lexicographically, so emitted
    * pairs satisfy a.id < b.id (callers get keep-first semantics free).
    *
    * `maxGroup` drops pathological buckets (boilerplate collisions): a group
    * of m yields m²/2 pairs, so unbounded groups are the one way this shape
    * goes quadratic at 100 TB. Dropped groups are near-universal shingles or
    * hash buckets wider than the dedup radius — standard practice, and the
    * cap is mirrored in every oracle so it is part of the semantics.
    *
    * The cap is enforced BEFORE `collect_list`: a window `count` over the
    * group keys tags each row with its group size and flooded rows are
    * filtered out, so an oversized group (millions of identical docs in one
    * bucket — the exact case the cap exists for) is never materialized in an
    * aggregation buffer. `WindowExec` buffers with disk spill
    * (`ExternalAppendOnlyUnsafeRowArray`), unlike a `collect_list` buffer,
    * and the window's hash partitioning on the keys is reused by the
    * `groupBy` — still ONE shuffle, still one pass over the input.
    */
  private[operators] def pairsWithinGroups(rows: DataFrame, keyCols: Seq[String],
                                payload: Column, maxGroup: Int): DataFrame =
    rows.withColumn("__n",
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("__n").between(2, maxGroup))
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(payload)).as("__ps"))
      .select(posexplode(col("__ps")).as(Seq("__i", "__a")), col("__ps"))
      .select(col("__a"),
        explode(slice(col("__ps"), col("__i") + lit(2), size(col("__ps"))))
          .as("__b"))
      // sorted expansion gives __a <= __b; make it strict so duplicate
      // payloads in a group (possible with caller-supplied inputs) never
      // emit a self-pair
      .filter(col("__a") < col("__b"))

  /** LSH banding: candidate near-dup pairs from documents sharing any
    * (band, band-slice) bucket. `bands * rowsPerBand == numHashes`.
    * Returns distinct (id_a, id_b) candidate pairs with id_a < id_b.
    *
    * Scale shape: explode to (doc, band, bucket) — |docs| × bands rows,
    * carrying only the id and the bucket key — then ONE shuffle into bucket
    * groups and in-place pair expansion ([[pairsWithinGroups]]); the
    * signature pipeline is evaluated exactly once and no all-pairs step
    * exists anywhere. The bucket key is the band slice itself (joined as a
    * string), not a re-hash — one less hash and portable across engines.
    */
  def lshCandidates(docsWithSig: DataFrame, idCol: String,
                    bands: Int, rowsPerBand: Int,
                    maxBucket: Int = 10000): DataFrame = {
    val buckets = docsWithSig.select(
      struct(col(idCol)).as("__p"),
      posexplode(array((0 until bands).map { b =>
        concat_ws(",", slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand))
      }: _*)).as(Seq("band", "bucket")))
    pairsWithinGroups(buckets, Seq("band", "bucket"), col("__p"), maxBucket)
      .select(col("__a")(idCol).as("id_a"), col("__b")(idCol).as("id_b"))
      .distinct()
  }

  /** EXACT all-pairs Jaccard join via prefix filtering (Bayardo et al.
    * 2007, "Scaling Up All Pairs Similarity Search" — the AllPairs/PPJoin
    * candidate rule): every pair of documents whose DISTINCT-word sets
    * have `Jaccard ≥ thresholdPct/100`, with NO approximation — the exact
    * counterpart of [[lshCandidates]] for when the threshold is a hard
    * contract rather than a recall target.
    *
    * Candidate rule: order the vocabulary globally by (df ascending,
    * token) — rarest first — and index only each doc's PREFIX of length
    * `m − ⌈t·m⌉ + 1` (m = set size): if `J(A,B) ≥ t` then
    * `|A∩B| ≥ ⌈t·m⌉`, so the intersection cannot avoid the prefix; pairs
    * sharing no prefix token are pruned WITHOUT being scored. Rare-first
    * ordering makes prefix postings the SHORTEST lists in the corpus.
    *
    * Scale shape: each document is tokenized ONCE, into one table keyed
    * by doc id that carries its ordered token set and serves both the
    * prefix index and verification.
    *  - The token rows are a map-only `explode` of the fused
    *    [[graft.expressions.DistinctShingles]] set (`explode` drops null
    *    and empty sets, so the kernel runs once per row and no null filter
    *    is pushed beneath it).
    *  - df is a window `count` partitioned by token: the disk-spilling
    *    `WindowExec` buffer of [[pairsWithinGroups]], not a per-token
    *    aggregate joined back, so a boilerplate token's posting list is
    *    never held in one aggregation buffer.
    *  - Per-doc ordering is an in-group `sort_array` (never a global sort).
    *  - Prefix postings group into ONE shuffle with in-place pair expansion
    *    ([[pairsWithinGroups]]; `maxPosting` bounds the m²/2 blow-up of
    *    boilerplate tokens — the cap is a SCALE GUARD, not part of the exact
    *    semantics: a posting longer than the cap is dropped whole, losing
    *    any qualifying pair whose only shared prefix token sits in it.
    *    Callers needing the exact PPJoin contract pass
    *    `maxPosting = Int.MaxValue`, as the oracled q158 does).
    *  - Candidates collapse through ONE pair-keyed aggregate carrying the
    *    exact positional bound (see inline proof).
    *  - Verification joins the ordered-set table once per side; both reads
    *    share its id-keyed exchange (the plan shows `ReusedExchange`).
    *    Both arrays are distinct sets, so `|A∪B| = mA + mB − |A∩B|` exactly.
    *
    * All-integer semantics: the gate is `100·|A∩B| ≥ pct·|A∪B|` and the
    * prefix length uses `⌈pct·m/100⌉ = (pct·m + 99) div 100` — no float
    * appears anywhere, so any engine replays the pair set exactly.
    * Output: `(id_a, id_b, inter_size, union_size)`, id_a < id_b.
    * Ids must be unique and non-null: rows sharing an id merge into one
    * token set, and a null id pairs with nothing.
    *
    * @param n the set unit: 1 = distinct words; ≥ 2 = distinct word
    *          n-gram shingles ([[TextFunctions.shingles]] — the q65/q67
    *          unit; word sets saturate on small shared vocabularies)
    */
  def prefixFilterJaccard(docs: DataFrame, idCol: String, textCol: String,
                          thresholdPct: Int, n: Int = 1,
                          maxPosting: Int = 10000): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      "thresholdPct must be in [1, 100]")
    require(n >= 1, "n must be >= 1")
    // (doc, token) rows: n = 1 is the distinct-words set
    val tokset = docs.select(col(idCol).as("__id"),
      explode(TextFunctions.distinctShinglesFused(
        TextFunctions.normalizeForDedup(col(textCol)), n)).as("__t"))
    val ts = tokset
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("__t")))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__t"))))
        .as("__o"))
      .select(col("__id"), expr("transform(__o, s -> s.__t)").as("__toks"),
        size(col("__o")).as("__m"))
    val prefixes = ts
      .withColumn("__p",
        col("__m") - expr(s"($thresholdPct * __m + 99) div 100") + lit(1))
      .select(col("__id"), col("__m"),
        posexplode(slice(col("__toks"), lit(1), col("__p")))
          .as(Seq("__i0", "__t")))
      .select(struct(col("__id"), col("__m"),
        (col("__i0") + lit(1)).as("__pos")).as("__pay"), col("__t"))
    // PPJoin's cheap pair filters BEFORE the verification join (measured:
    // the prefix rule alone left 300k candidates for 256 real pairs on the
    // repetitive synthetic corpus):
    //  - length (row-level): J ≥ t forces 100·min(m) ≥ pct·max(m);
    //  - positional (Xiao et al. 2008, §3.2 — the exact aggregate form):
    //    over a pair's shared-prefix-token occurrences, let c = their
    //    count and (w, v) = the LAST one's positions in the global
    //    (df, token) order. Every shared token ordered before that
    //    occurrence is provably in both prefixes (positions only grow
    //    along the shared sort order), so it is counted in c; every one
    //    after it contributes at most min(mA−w, mB−v). Hence
    //    |A∩B| ≤ c + min(mA−w, mB−v), which must reach
    //    α = ⌈pct·(mA+mB)/(100+pct)⌉ (J ≥ t ⟺ |A∩B| ≥ α). The aggregate
    //    replaces the pair-distinct at the SAME shuffle and is strictly
    //    tighter than any per-occurrence rule (measured 371k → far fewer
    //    verification pairs at t=0.3 on the q175 corpus); completeness is
    //    spec-pinned by brute equality on random corpora.
    val denom = 100 + thresholdPct
    val cands = pairsWithinGroups(prefixes, Seq("__t"), col("__pay"),
        maxPosting)
      .select(col("__a")("__id").as("id_a"), col("__a")("__m").as("__ma"),
        col("__a")("__pos").as("__pa"),
        col("__b")("__id").as("id_b"), col("__b")("__m").as("__mb"),
        col("__b")("__pos").as("__pb"))
      .filter(lit(100L) * col("__mb") >= lit(thresholdPct.toLong) * col("__ma") &&
        lit(100L) * col("__ma") >= lit(thresholdPct.toLong) * col("__mb"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__c"), max(col("__pa")).as("__w"),
        max(col("__pb")).as("__v"), max(col("__ma")).as("__ma"),
        max(col("__mb")).as("__mb"))
      .filter(col("__c") +
        least(col("__ma") - col("__w"), col("__mb") - col("__v")) >=
        expr(s"($thresholdPct * (__ma + __mb) + ${denom - 1}) div $denom"))
      .select("id_a", "id_b")
    def side(x: String): DataFrame = ts.select(col("__id").as(s"id_$x"),
      col("__toks").as(s"__t$x"), col("__m").as(s"__m$x"))
    cands.join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn("inter_size",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("inter_size"),
        (col("__ma") + col("__mb") - col("inter_size")).cast("long")
          .as("union_size"))
      .filter(col("inter_size") * lit(100L) >=
        lit(thresholdPct.toLong) * col("union_size"))
  }

  /** Asymmetric CONTAINMENT join: every (query, doc) pair with
    * `|Q∩D| / |Q| ≥ thresholdPct/100` — "at least t of the benchmark's
    * shingles appear in the document", the set-level decontamination
    * detector between doc-level flags (q98/q120) and span excision
    * (q130): containment is robust to the document being much larger than
    * the leaked snippet, where Jaccard vanishes.
    *
    * Candidate rule (the [[prefixFilterJaccard]] prefix argument, query
    * side only): overlap ≥ ⌈t·|Q|⌉ forces Q's rarest-first prefix of
    * length `|Q| − ⌈t·|Q|⌉ + 1` to intersect D, so candidates = corpus
    * postings of the queries' prefix tokens. Token rarity is measured on
    * the CORPUS (query-only tokens have df 0 — rarest, maximally
    * selective). Queries are catalog-scale (a benchmark suite), so the
    * prefix-token set broadcasts and the corpus explode is pruned
    * immediately — the BM25 posting-restriction shape.
    *
    * All-integer gate (`100·|Q∩D| ≥ pct·|Q|`); output
    * `(query_id, doc_id, inter_size, q_size)`. Ids must be unique and
    * non-null: rows sharing an id merge into one token set, and a null id
    * pairs with nothing.
    */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      queries: DataFrame, queryIdCol: String,
                      queryTextCol: String, thresholdPct: Int,
                      n: Int = 3): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      "thresholdPct must be in [1, 100]")
    require(n >= 1, "n must be >= 1")
    // (id, token) rows of the fused DistinctShingles set (n = 1 is the
    // distinct-words set; `explode` drops null and empty sets). The null-id
    // filter is the one the joins on id infer: stated here, every read of
    // a side's table plans the same subtree, so they share its exchange
    def tokens(df: DataFrame, id: String, text: String): DataFrame =
      df.filter(col(id).isNotNull).select(col(id).as("__id"),
        explode(TextFunctions.distinctShinglesFused(
          TextFunctions.normalizeForDedup(col(text)), n)).as("__t"))
    // the corpus is tokenized ONCE, into one id-keyed set table: the df
    // count, the candidate postings and verification all read it and
    // share its exchange
    val docTable = tokens(docs, idCol, textCol).groupBy("__id")
      .agg(collect_list(col("__t")).as("__toks"))
    val docSet = docTable.select(col("__id"), explode(col("__toks")).as("__t"))
    val qSet = tokens(queries, queryIdCol, queryTextCol)
    val dfc = docSet.groupBy("__t").agg(count(lit(1)).as("__df"))
    // corpus rarity for the query ordering; unseen tokens get df 0
    val qs = qSet.join(dfc, Seq("__t"), "left")
      .na.fill(0L, Seq("__df"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__t"))))
        .as("__o"))
      .select(col("__id").as("query_id"),
        expr("transform(__o, s -> s.__t)").as("__qtoks"),
        size(col("__o")).as("__q"))
    val prefixes = qs
      .withColumn("__p",
        col("__q") - expr(s"($thresholdPct * __q + 99) div 100") + lit(1))
      .select(col("query_id"),
        explode(slice(col("__qtoks"), lit(1), col("__p"))).as("__t"))
    val cands = docSet.join(broadcast(prefixes), Seq("__t"))
      .select(col("query_id"), col("__id").as("doc_id")).distinct()
    cands
      .join(broadcast(qs.select("query_id", "__qtoks", "__q")), Seq("query_id"))
      .join(docTable.select(col("__id").as("doc_id"),
        col("__toks").as("__dtoks")), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        size(array_intersect(col("__qtoks"), col("__dtoks"))).cast("long")
          .as("inter_size"),
        col("__q").cast("long").as("q_size"))
      .filter(col("inter_size") * lit(100L) >=
        lit(thresholdPct.toLong) * col("q_size"))
  }

  /** Fuzzy self-join on edit distance: every UNORDERED pair of distinct
    * strings with `levenshtein ≤ maxDist` — entity resolution / catalog
    * cleaning (near-identical names, typo variants). Exact: the q-gram
    * stage only PRUNES; every surviving candidate is verified with the
    * codegen'd Levenshtein expression, and the oracle can be an
    * independent all-pairs scan.
    *
    * Candidate rule: strings within edit distance k differ in length by
    * ≤ k, and when `max(|a|,|b|) ≥ q·(k+1)` they must share at least one
    * q-gram (each edit destroys ≤ q grams; k edits leave
    * `max−q+1−k·q ≥ 1` intact). Strings too short for that guarantee
    * route through a bounded all-pairs block — the short pool is capped
    * by the alphabet at ANY corpus scale (< q·(k+1) chars), so its
    * broadcast nested loop never grows with the data.
    *
    * Scale shape: everything runs on the DISTINCT-string table
    * (vocabulary-scale, not row-scale); q-gram postings group into one
    * shuffle with in-place pair expansion; verification is one scalar
    * expression per candidate. Output: `(str_a, str_b, dist)`,
    * `str_a < str_b`.
    */
  def editDistanceJoin(df: DataFrame, strCol: String, maxDist: Int,
                       q: Int = 2): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(q >= 1, "q must be >= 1")
    val minGuarded = q * (maxDist + 1)
    val names = df.select(col(strCol).as("__s")).filter(col("__s").isNotNull)
      .distinct()
    val long = names.filter(length(col("__s")) >= minGuarded)
    val short = names.filter(length(col("__s")) < minGuarded)
    val grams = long.select(struct(col("__s")).as("__pay"),
      explode(array_distinct(expr(
        s"""transform(sequence(1, length(__s) - $q + 1),
              p -> substring(__s, p, $q))"""))).as("__g"))
    val longCands = pairsWithinGroups(grams, Seq("__g"), col("__pay"),
        Int.MaxValue)
      .select(col("__a")("__s").as("str_a"), col("__b")("__s").as("str_b"))
      .distinct()
    // short strings: length-filtered all-pairs against the (bounded)
    // short pool plus the long strings within k of the guard boundary
    val shortSide = broadcast(short.select(col("__s").as("__short")))
    val shortCands = names
      .filter(length(col("__s")) < minGuarded + maxDist)
      .join(shortSide,
        col("__s") =!= col("__short") &&
          abs(length(col("__s")) - length(col("__short"))) <= maxDist)
      .select(least(col("__s"), col("__short")).as("str_a"),
        greatest(col("__s"), col("__short")).as("str_b"))
      .distinct()
    longCands.unionByName(shortCands).distinct()
      .filter(abs(length(col("str_a")) - length(col("str_b"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("str_a"), col("str_b")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** Winnowing fingerprints `(idCol, fingerprints: array<long>)` — the
    * rolling-hash document fingerprinting of Schleimer et al. (MOSS), the
    * standard overlap-detection primitive in training-data pipelines: hash
    * every k-shingle, slide a window of `windowSize` hashes, keep each
    * window's minimum. Guarantee: any shared run of ≥ windowSize + k − 1
    * tokens between two documents shares at least one fingerprint, so
    * containment (not just near-identity) is detectable via
    * `arrays_overlap`/`array_intersect` on the fingerprint sets.
    *
    * Same scale shape as the other signatures: shingle rows → codegen'd
    * hash → `min` over a row window → distinct per doc. The window
    * partitions by doc id — one keyed shuffle, no interpreted lambdas.
    * Hashes come from [[HashFunctions.portableHash60]], so the fingerprint
    * values (an exported artifact other systems match against) are
    * engine-independent.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, windowSize: Int = 4): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(0, windowSize - 1)
    shingleRows(docs, idCol, textCol, shingleN)
      .withColumn("__h", HashFunctions.portableHash60(col("__s")))
      .withColumn("__winmin", min(col("__h")).over(w))
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("__winmin"))).as("fingerprints"))
  }

  /** Overlapping-document pairs from winnowing fingerprints: documents
    * sharing ≥ `minShared` fingerprints, excluding fingerprints present in
    * more than `maxDf` documents (boilerplate phrases — their k² fan-out is
    * the scale hazard, and they carry no overlap signal).
    *
    * Single pass: explode fingerprints → ONE shuffle into fingerprint groups
    * → in-place pair expansion ([[pairsWithinGroups]], where the `maxDf` cap
    * IS the document-frequency filter) → count shared fingerprints per pair.
    */
  def overlapPairs(fps: DataFrame, idCol: String,
                   minShared: Int = 3, maxDf: Int = 20): DataFrame = {
    val ex = fps.select(struct(col(idCol)).as("__p"),
      explode(col("fingerprints")).as("__fp"))
    pairsWithinGroups(ex, Seq("__fp"), col("__p"), maxDf)
      .select(col("__a")(idCol).as("id_a"), col("__b")(idCol).as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** Estimated Jaccard from two MinHash signatures (fraction of agreeing
    * components). This form uses array lambdas, which Spark evaluates
    * INTERPRETED — fine for ad-hoc use; in a hot path prefer the
    * `numHashes` overload, which unrolls into codegen'd element equalities.
    */
  def minhashJaccard(sigA: String, sigB: String): org.apache.spark.sql.Column =
    aggregate(zip_with(col(sigA), col(sigB), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(col(sigA))

  /** Codegen-friendly [[minhashJaccard]]: with the signature width known at
    * plan time the agreement count unrolls into plain element equalities —
    * no interpreted higher-order lambdas.
    */
  def minhashJaccard(sigA: String, sigB: String, numHashes: Int): org.apache.spark.sql.Column =
    (0 until numHashes)
      .map(i => when(col(sigA).getItem(i) === col(sigB).getItem(i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes

  /** Shingle-set table `(idCol, shingles: array<string>)` — computed ONCE per
    * document. Candidate verification joins against this instead of raw text:
    * shingling is an interpreted higher-order expression, so evaluating it
    * per *pair* (2× per candidate) costs ~100× more than per *document*.
    */
  def withShingles(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame =
    nonNullKernel(docs, col(idCol), "shingles",
      TextFunctions.distinctShinglesFused(
        TextFunctions.normalizeForDedup(col(textCol)), n))

  /** Hashed shingle-set table `(idCol, shingle_hashes: array<long>)`: the
    * portable 60-bit hash of each shingle instead of the string. Jaccard over
    * these equals string-shingle Jaccard up to hash collisions (vanishing at
    * 60 bits for per-doc set sizes), and per-pair intersection compares
    * longs, not strings.
    *
    * MAP-ONLY (round 11): the distinct shingle array comes from the fused
    * [[graft.expressions.DistinctShingles]] pass and the hash applies
    * per element via `transform` — the old exploded shape paid a doc-keyed
    * WINDOW + groupBy shuffle of the entire shingle stream just to
    * rebuild per-doc sets. Consumers treat the arrays as SETS
    * (array_intersect / array_union dedup internally), so element order —
    * first-occurrence here, arbitrary under the old collect_set — is
    * immaterial, and a doc too short to shingle is absent from the table
    * in both shapes.
    */
  def withHashedShingles(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame =
    nonNullKernel(docs, col(idCol), "shingle_hashes",
      transform(
        TextFunctions.distinctShinglesFused(
          TextFunctions.normalizeForDedup(col(textCol)), n),
        s => HashFunctions.portableHash60(s)))

  /** Exact Jaccard between two precomputed shingle-array columns (native
    * array_intersect/union — the cheap per-pair form).
    */
  def jaccard(shA: org.apache.spark.sql.Column,
              shB: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val inter = size(array_intersect(shA, shB)).cast("double")
    val union = size(array_union(shA, shB)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Exact n-gram Jaccard between two text columns. Convenience form for
    * one-off pairs — for candidate verification at scale use
    * [[withShingles]] + [[jaccard]] so shingles are computed per doc, not per
    * pair.
    */
  def ngramJaccard(textA: String, textB: String, n: Int = 3): org.apache.spark.sql.Column =
    jaccard(TextFunctions.shingles(col(textA), n), TextFunctions.shingles(col(textB), n))

  /** SORTED-NEIGHBORHOOD dedup blocking (the merge/purge windowing family —
    * Hernández & Stolfo, SIGMOD '95): documents sort on a normalized text
    * prefix; candidate pairs are documents within `window` positions of
    * each other in that global order, verified by exact n-gram Jaccard.
    * The complementary blocking strategy to hash-based LSH — it catches
    * prefix-similar near-dups whose differences fall in the shingle tail,
    * and its candidate count is EXACTLY `window` per document by
    * construction (no flood guard needed).
    *
    * Scale shape: global positions come from
    * [[graft.sources.Layout.assignDenseIds]] (range shuffle +
    * per-partition rank + driver-rolled offsets — NO single-partition
    * window), the neighbor self-join is an equi-join on `pos div window`
    * with the right side offered under its own block and the previous one
    * (every pair within `window` shares exactly one join key, so no
    * dedup pass), and verification reuses [[withShingles]] + [[jaccard]]
    * computed per DOC and joined back by id — never per pair.
    *
    * Output: `(id_a, id_b, pos_dist, jaccard)` for pairs with
    * `jaccard >= minJaccard`, `id_a` the position-earlier document.
    * `minJaccard` must be positive: documents too short to shingle are
    * absent from the verify table, which is only equivalent to their
    * jaccard-0 pairs when the gate drops them.
    */
  def sortedNeighborhood(docs: DataFrame, idCol: String, textCol: String,
                         window: Int, minJaccard: Double,
                         prefixLen: Int = 24, shingleN: Int = 3,
                         numRanges: Int = 64): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(minJaccard > 0.0,
      "minJaccard must be > 0 (shingle-less docs are dropped, not scored 0)")
    val key = substring(
      regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""), 1, prefixLen)
    val pos = graft.sources.Layout.assignDenseIds(
      docs.select(col(idCol), key.as("__snkey")),
      Seq("__snkey", idCol), idName = "__pos", numRanges = numRanges)
    val sh = withShingles(docs, idCol, textCol, shingleN)
    val left = pos.select(col(idCol).as("id_a"), col("__pos").as("__pa"),
      floor(col("__pos") / lit(window)).as("__blk"))
    val right = pos.select(col(idCol).as("id_b"), col("__pos").as("__pb"),
      explode(array(floor(col("__pos") / lit(window)),
        floor(col("__pos") / lit(window)) - 1)).as("__blk"))
    left.join(right, Seq("__blk"))
      .filter((col("__pb") - col("__pa")).between(1, window))
      .join(sh.select(col(idCol).as("id_a"), col("shingles").as("__sha")),
        Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("shingles").as("__shb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("__pb") - col("__pa")).as("pos_dist"),
        round(jaccard(col("__sha"), col("__shb")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Lineage-cut strategy for the iterative propagation in
    * [[connectedComponents]] / [[mergeComponents]]. Each round's plan must
    * be truncated or it doubles every iteration; WHERE the cut materializes
    * is a durability/speed trade the caller owns:
    *  - [[Checkpointer.Local]] (default): `localCheckpoint(eager)` —
    *    executor block-manager memory/disk. Fastest, but blocks are lost on
    *    executor failure and the truncated lineage cannot recompute them —
    *    fine for interactive/local work, not for long cluster jobs.
    *  - [[Checkpointer.Reliable]]: `checkpoint(eager)` against a reliable
    *    checkpoint dir (HDFS/object store) — survives executor loss at the
    *    cost of a round-trip write per round.
    */
  sealed trait Checkpointer {
    private[operators] def cut(df: DataFrame): DataFrame
    /** Drop a superseded cut's materialization. Callers must pass the exact
      * frame `cut` returned, only once no live plan references it. No-op
      * where the engine already garbage-collects (Local: the ContextCleaner
      * frees block-manager blocks when the RDD becomes unreachable). */
    private[operators] def release(df: DataFrame): Unit = { val _ = df }
  }
  object Checkpointer {
    case object Local extends Checkpointer {
      private[operators] def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)
    }
    /** Reliable (HDFS/object store) cuts. Each cut lands in its own
      * random-UUID subdir of `dir` (what `setCheckpointDir` creates), so
      * [[release]] can delete exactly the superseded round — without that,
      * an iterative caller (or a streaming drain running [[mergeComponents]]
      * per batch) accumulates a full labels copy per round FOREVER (Spark
      * only auto-cleans reliable checkpoints under the non-default
      * `spark.cleaner.referenceTracking.cleanCheckpoints`). The final
      * result's subdir is intentionally kept — delete `dir` when done with
      * it. Caveat: the checkpoint dir is SparkContext-GLOBAL state; run one
      * Reliable-checkpointed job per session at a time.
      */
    final case class Reliable(dir: String) extends Checkpointer {
      // WeakHashMap (Dataset does not override equals, so lookup is
      // reference identity): the FINAL cut of each job is never released,
      // and a strong map would pin its plan + checkpoint RDD per call —
      // unbounded driver growth for a streaming drain cutting every batch.
      // Weak entries let the GC drop them; the final subdir's FILES are
      // intentionally kept either way (delete `dir` when done).
      private val subdirs = java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[DataFrame, String]())
      private[operators] def cut(df: DataFrame): DataFrame = {
        val sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(dir) // fresh UUID subdir per cut
        val out = df.checkpoint(true)
        sc.getCheckpointDir.foreach(subdirs.put(out, _))
        out
      }
      private[operators] override def release(df: DataFrame): Unit = {
        val sub = subdirs.remove(df)
        if (sub != null) {
          val p = new org.apache.hadoop.fs.Path(sub)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
          ()
        }
      }
    }
  }

  /** Labels ride as 8-byte longs; a silent `cast("long")` would turn
    * string/UUID ids into nulls, drop every edge, and "deduplicate" nothing
    * — so non-integral id columns are rejected loudly up front.
    */
  private[operators] def requireIntegralIds(df: DataFrame, cols: Seq[String], who: String): Unit =
    cols.foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = df.schema(df.schema.fieldIndex(c)).dataType
      val integral = dt == ByteType || dt == ShortType ||
        dt == IntegerType || dt == LongType
      require(integral,
        s"$who requires integral id columns (labels propagate as 8-byte " +
          s"longs); '$c' is $dt — hash non-numeric ids to longs first " +
          "(e.g. xxhash64(id))")
    }

  /** Connected components over a candidate-pair edge list — the cluster
    * resolution stage of near-dup dedup: LSH/SimHash emit PAIRS, but keeping
    * one doc per duplicate GROUP needs the transitive closure (a≈b, b≈c ⇒
    * one cluster {a,b,c}), exactly the reference-pipeline step between
    * pairwise match and canonical selection.
    *
    * Algorithm: min-label propagation. Every node starts labeled with its
    * own id; each round takes `least(own, min(neighbor labels))` until a
    * fixpoint. One round = one shuffle join + one aggregate, and labels ride
    * as 8-byte longs. Rounds needed = the graph diameter — for near-dup
    * graphs that is small (LSH clusters are quasi-cliques of mutually
    * similar docs, diameter ~2–3), which is why the simple propagation beats
    * carrying the machinery of large-star/small-star here; a corpus whose
    * duplicate graph has pathological chains (diameter > `maxIter`) fails
    * fast rather than returning wrong clusters. Per-round lineage is cut via
    * the [[Checkpointer]] (or the plan would double every iteration) —
    * default executor-local, [[Checkpointer.Reliable]] for executor-loss
    * resilience on long cluster jobs.
    *
    * Below `driverMaxEdges` directed edges the whole resolution runs as a
    * driver union-find instead ([[driverComponents]]) — one collect of
    * catalog-scale state replaces diameter-many shuffle rounds, with
    * identical labels and no diameter limit. Set it to 0 to force the
    * distributed loop; a non-`Local` checkpointer forces it too, since only
    * the distributed loop leaves the durable final cut `Reliable` promises.
    *
    * Output: `(id, cluster)` for every node that appears in `pairs`;
    * `cluster` = min id in the component. Singletons never enter the edge
    * list — callers keep the full corpus with
    * `coalesce(cluster, id)` after a left join (see q99).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          checkpointer: Checkpointer = Checkpointer.Local,
                          driverMaxEdges: Long = DriverPath.MaxRows): DataFrame = {
    requireIntegralIds(pairs, Seq(aCol, bCol), "connectedComponents")
    val edges = checkpointer.cut(
      pairs.select(col(aCol).cast("long").as("src"),
          col(bCol).cast("long").as("dst"))
        .union(pairs.select(col(bCol).cast("long").as("src"),
          col(aCol).cast("long").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()) // pairs may be an expensive LSH plan: run it ONCE
    // catalog-scale fast path: a near-dup edge list is a vanishing fraction
    // of the corpus, and below `driverMaxEdges` (default 2²⁰ directed
    // edges) a driver union-find replaces maxIter rounds of join+agg jobs
    // with ONE collect of the cut — same catalog-scale discipline as IVF
    // centers or classifier weights. Labels are identical by construction
    // (min member id per component); the distributed loop remains the path
    // for edge lists that outgrow the driver.
    val fast = driverComponents(edges, driverMaxEdges, checkpointer)
    if (fast.isDefined) return fast.get
    // `cutLabels` tracks the frame `cut` returned (release keys on object
    // identity); round N's cut is released as soon as round N+1 has
    // materialized — the cuts are eager, so nothing references it after
    var cutLabels = checkpointer.cut(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    try {
      var labels = cutLabels
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("nl")).as("nmin"))
        val next = checkpointer.cut(
          labels.join(neighborMin, Seq("id"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
              (coalesce(col("nmin"), col("label")) < col("label")).as("__changed")))
        converged = next.filter(col("__changed")).limit(1).isEmpty
        checkpointer.release(cutLabels)
        cutLabels = next
        labels = next.drop("__changed")
        iter += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds — duplicate " +
          "graph diameter exceeds maxIter; raise it or pre-partition the corpus")
      val out = labels.select(col("id"), col("label").as("cluster"))
      checkpointer.release(edges) // the result depends only on the final cut
      out
    } catch {
      case t: Throwable =>
        // failure path (non-convergence, lost executor, cancel): the fix
        // this release discipline exists for must also hold here — drop the
        // last round's cut AND the edges, don't leave them on the store
        checkpointer.release(cutLabels)
        checkpointer.release(edges)
        throw t
    }
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", SoCC §3) — the
    * HIGH-DIAMETER twin of [[connectedComponents]]: min-label propagation
    * needs one round per unit of graph diameter, which is right for LSH
    * quasi-cliques (diameter 2–3) but fails fast on chain-shaped duplicate
    * graphs (long revision chains, boilerplate gradients). The alternating
    * star operations contract every path toward its minimum by halving,
    * converging in O(log² n) rounds REGARDLESS of diameter:
    *
    *  - large-star: each node connects its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: each node connects its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    *
    * Each operation is one hash-partitioned window min over the adjacency
    * plus a distinct — ~4 shuffles per round vs the propagation's 2, the
    * price of diameter independence; labels are identical (component
    * minimum, [[driverComponents]]-checked in the spec). Same contracts as
    * [[connectedComponents]]: integral ids, per-round [[Checkpointer]]
    * cuts with superseded rounds released, the sub-`driverMaxEdges` driver
    * union-find fast path, and `(id, cluster)` output over every node in
    * `pairs`.
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
                               maxIter: Int = 50,
                               checkpointer: Checkpointer = Checkpointer.Local,
                               driverMaxEdges: Long = DriverPath.MaxRows): DataFrame = {
    requireIntegralIds(pairs, Seq(aCol, bCol), "connectedComponentsStars")
    // canonical child>parent orientation from the start so the fixpoint
    // comparison below is orientation-stable
    val edges0 = checkpointer.cut(
      pairs.select(col(aCol).cast("long").as("__a"),
          col(bCol).cast("long").as("__b"))
        .filter(col("__a") =!= col("__b"))
        .select(greatest(col("__a"), col("__b")).as("u"),
          least(col("__a"), col("__b")).as("v"))
        .distinct())
    val fast = driverComponents(edges0, driverMaxEdges, checkpointer)
    if (fast.isDefined) return fast.get

    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = least(min(col("v")).over(Window.partitionBy(col("u"))), col("u"))
      adj.withColumn("__m", m)
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withMin = oriented.withColumn("__m",
        min(col("v")).over(Window.partitionBy(col("u"))))
      withMin.select(col("v").as("u"), col("__m").as("v"))
        .union(withMin.select(col("u"), col("__m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var cur = edges0
    try {
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val next = checkpointer.cut(smallStar(largeStar(cur)))
        // fixpoint = identical edge SET (both sides are canonical
        // child>parent): equal counts and no row in next missing from cur
        converged = next.count() == cur.count() &&
          next.join(cur, Seq("u", "v"), "left_anti").limit(1).isEmpty
        checkpointer.release(cur)
        cur = next
        iter += 1
      }
      require(converged,
        s"connectedComponentsStars did not converge in $maxIter rounds — " +
          "pathological input (the star rounds are O(log² n)); raise maxIter")
      // the fixpoint is a star forest: every non-min node carries exactly
      // one (node, component-min) edge; centers label themselves
      cur.select(col("u").as("id"), col("v").as("cluster"))
        .union(cur.select(col("v"), col("v")).distinct()
          .toDF("id", "cluster"))
    } catch {
      case t: Throwable =>
        checkpointer.release(cur)
        throw t
    }
  }

  /** Driver union-find over a guarded collect of the cut `edges` — the
    * fast path of [[connectedComponents]] and [[connectedComponentsStars]];
    * None when [[DriverPath.collect]] picks the distributed path. The
    * driver path only runs under the `Local` checkpointer, whose cuts need
    * no release. Path-halving find + union by attaching the larger root
    * under the smaller: since every node starts as its own root, the root
    * of a tree is by induction the MIN member id of its component, so
    * `find(n)` directly yields the label the distributed propagation
    * converges to. Unbounded by graph diameter (no maxIter here:
    * union-find closes any chain), deterministic regardless of edge order.
    *
    * Driver footprint at the 2²⁰-edge default is worst-case a few hundred
    * MB (decoded long tuples ≈ 60 B/edge, plus ~80 B/entry of boxed
    * HashMap for up to 2·2²⁰ nodes) — NOT just the 16 MB of raw longs.
    * Size `driverMaxEdges` to the driver heap actually available.
    */
  private def driverComponents(edges: DataFrame, budget: Long,
                               checkpointer: Checkpointer): Option[DataFrame] = {
    import DriverPath.pairs
    val collected =
      DriverPath.collect[(Long, Long)](edges, budget, checkpointer) match {
        case Right(rows) => rows
        case Left(_) => return None
      }
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) {
        val p = parent.getOrDefault(r, r)
        parent.put(r, parent.getOrDefault(p, p)) // path halving
        r = parent.getOrDefault(r, r)
      }
      r
    }
    collected.foreach { case (s, d) =>
      val (a, b) = (find(s), find(d))
      if (a != b) {
        if (a < b) parent.put(b, a) else parent.put(a, b)
      }
    }
    val nodes = new java.util.TreeSet[java.lang.Long]() // sorted → deterministic row order
    collected.foreach { case (s, d) => nodes.add(s); nodes.add(d) }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
    nodes.forEach { n => out += ((n, find(n))) }
    // parallelize, not a LocalRelation: a local Seq in createDataset would
    // embed 2M labels in the PLAN (shipped with every task closure downstream)
    val spark = edges.sparkSession
    Some(spark.createDataset(spark.sparkContext.parallelize(out.toSeq))(pairs)
      .toDF("id", "cluster"))
  }

  /** Incremental cluster maintenance — the batch-append twin of
    * [[connectedComponents]], composing with [[incrementalCandidates]]'
    * batches-never-rehash-the-corpus story: when a new batch contributes
    * near-dup pairs, prior cluster assignments are NOT recomputed from all
    * historical pairs. Each existing `(id, cluster)` row acts as one edge
    * (the cluster id is itself a member id — min of its component), so the
    * propagation re-converges over `|new pairs| + |existing assignments|`
    * edges instead of the full historical pair set, and prior clusters that
    * the new batch bridges merge correctly (both collapse to the global min
    * via their representative edges).
    *
    * Output: `(id, cluster)` covering every id in `existing` or `newPairs`.
    */
  def mergeComponents(existing: DataFrame, newPairs: DataFrame,
                      aCol: String, bCol: String,
                      maxIter: Int = 25,
                      checkpointer: Checkpointer = Checkpointer.Local): DataFrame = {
    val assignmentEdges = existing
      .select(col("id").as(aCol), col("cluster").as(bCol))
    val comps = connectedComponents(assignmentEdges.union(
      newPairs.select(col(aCol), col(bCol))), aCol, bCol, maxIter, checkpointer)
    // self-loop assignments (untouched singletons) carry no edge — re-attach
    // them unchanged so the output still covers every previously-seen id
    val untouched = existing.join(comps, Seq("id"), "left_anti")
    comps.union(untouched.select(col("id"), col("cluster")))
  }

  /** Leakage-aware train/validation split: the split draw is keyed on the
    * near-dup CLUSTER label, not the doc id, so a document and its
    * near-duplicates always land on the same side. Splitting by doc id
    * leaks: a val doc's near-twin in train inflates eval exactly the way
    * external-benchmark contamination does ([[decontaminate]] closes that
    * channel for published suites; this closes it for the corpus's own
    * held-out split). Deterministic hash gate ([[Sampling.acceptGate]]):
    * re-runs, task retries, and other engines select the identical split.
    *
    * `clusterCol` is the [[connectedComponents]] label (singletons = own
    * id, as in q99's coalesce). Adds `split` = "val" | "train". Pure
    * per-row filter — no shuffle beyond what produced the clusters.
    */
  def splitByCluster(docs: DataFrame, clusterCol: String, valFrac: Double,
                     tag: String = "split"): DataFrame = {
    require(valFrac >= 0 && valFrac <= 1, "valFrac must be in [0, 1]")
    docs.withColumn("split",
      when(Sampling.acceptGate(col(clusterCol), lit(valFrac), tag), "val")
        .otherwise("train"))
  }

  /** End-of-pipeline canonical selection: given docs and their near-dup
    * pair list, resolve clusters ([[connectedComponents]]) and keep ONE doc
    * per cluster — the highest `scoreCol` (ties broken by min id, so the
    * choice is deterministic under re-runs). Singletons always survive.
    * This is the decision a dedup pipeline actually ships: pairs → clusters
    * → per-cluster top-1 (one window over the cluster key, the W5 shape).
    */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String, bCol: String, scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val clustered = docs.join(comps, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    clustered
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1)
      .drop("__rank", "cluster")
  }

  /** Benchmark decontamination: flag corpus documents that share any word
    * `n`-gram with a benchmark/test set — the standard guard against
    * evaluation contamination in a training-data pipeline (every doc keeps
    * its row; `contaminated` + hit counts are appended).
    *
    * Scale shape: the BENCHMARK side is the small one (eval suites are MBs
    * against a 100 TB corpus), so its distinct `(shingle-hash, bench-doc)`
    * pairs broadcast and the corpus-side shingle stream joins map-side —
    * no shuffle of corpus text, no shuffle at all before the per-doc
    * aggregate, and join keys are 8-byte longs ([[HashFunctions
    * .portableHash60]], the same portable family the MinHash pipeline
    * uses — collisions at 60 bits are vanishing for eval-suite set sizes).
    * Output: input columns of `docs` + `n_contaminated_ngrams` (distinct
    * contaminated n-grams in the doc), `n_benchmark_docs` (distinct
    * benchmark docs hit), `contaminated`.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmarks: DataFrame, benchIdCol: String,
                    benchTextCol: String, n: Int = 8): DataFrame = {
    val docSh = shingleRows(docs.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(col(idCol), HashFunctions.portableHash60(col("__s")).as("__h"))
    // distinct (hash, bench id) — duplicates inside one bench doc must not
    // inflate n_contaminated_ngrams via the join
    val benchDistinct = shingleRows(
        benchmarks.select(col(benchIdCol).as("__bid"), col(benchTextCol).as("__btext")),
        "__bid", "__btext", n)
      .select(HashFunctions.portableHash60(col("__s")).as("__h"), col("__bid"))
      .distinct()
    val hits = docSh.join(broadcast(benchDistinct), "__h")
      .groupBy(col(idCol))
      .agg(countDistinct(col("__h")).as("n_contaminated_ngrams"),
        countDistinct(col("__bid")).as("n_benchmark_docs"))
    docs.join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_contaminated_ngrams", "n_benchmark_docs"))
      .withColumn("contaminated", col("n_contaminated_ngrams") > 0)
  }

  /** Bloom bitset over a benchmark set's shingle probe positions — the
    * build side of [[decontaminateBloom]]. Probe `i` of a shingle is
    * `portableSeededHash(shingle, i) mod mBits` (the full-width
    * Kirsch–Mitzenmacher family, ONE md5 per shingle for all `k` probes),
    * so membership is engine-replayable: the oracle rebuilds the SET of
    * bench positions in SQL and `might contain` ≡ "all k probe positions
    * ∈ that set" — bit-for-bit the same answer this bitset gives.
    *
    * Built with `treeAggregate`: each task ORs its shingles into a local
    * `mBits/64`-long array, partial bitsets merge up a tree — the driver
    * receives O(mBits) bytes regardless of benchmark size, never the
    * position stream.
    */
  def benchBloomBits(benchmarks: DataFrame, benchIdCol: String,
                     benchTextCol: String, n: Int, mBits: Int,
                     k: Int): Array[Long] = {
    require(mBits >= 64 && mBits <= (1 << 30) && mBits % 64 == 0,
      s"mBits must be in [64, 2^30] and a multiple of 64, got $mBits")
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    val sh = shingleRows(
        benchmarks.select(col(benchIdCol).as("__bid"), col(benchTextCol).as("__btext")),
        "__bid", "__btext", n)
      .select(HashFunctions.portableHashPair(col("__s")).as("__hp"))
      .select(col("__hp.h1").as("__h1"), col("__hp.h2").as("__h2"))
    val pos = sh.select(explode(array((0 until k).map { i =>
      HashFunctions.portableSeededFromParts(col("__h1"), col("__h2"), i) %
        lit(mBits.toLong)
    }: _*)).as("__p"))
    pos.select(col("__p")).rdd.map(_.getLong(0))
      .treeAggregate(new Array[Long](mBits / 64))(
        (bs, p) => { bs((p >>> 6).toInt) |= 1L << (p & 63L); bs },
        (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
  }

  /** Bloom-screened benchmark decontamination — the scale path for when the
    * benchmark shingle set itself is too large to broadcast EXACTLY (a full
    * eval-suite aggregation, or decontaminating corpus A against corpus B).
    * [[decontaminate]] broadcasts every distinct `(hash, bench-doc)` pair;
    * here the benchmark side collapses to an `mBits`-bit Bloom filter
    * (16 MiB covers ~10⁸ shingles at k=3 within ~1% false positives) and
    * the corpus probe is map-side arithmetic: 2 md5 slices + k codegen'd
    * bit tests per shingle ([[graft.expressions.BitsetContains]] holding
    * the broadcast HANDLE, so the plan stays small and the bitset ships
    * once per executor).
    *
    * One-sided by construction: NO false negatives — every truly
    * contaminated n-gram is flagged (the decontamination-safe direction);
    * false positives at the classic `(1 - e^(-kn/m))^k` rate can only
    * over-flag. Screen with this, then re-check the (tiny) flagged subset
    * with [[decontaminate]] when exact counts matter.
    *
    * Output: input columns of `docs` + `n_flagged_ngrams` (distinct
    * shingle hashes whose k probes all hit) + `contaminated`. No
    * `n_benchmark_docs` — a Bloom filter keeps no ids.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         benchmarks: DataFrame, benchIdCol: String,
                         benchTextCol: String, n: Int = 8,
                         mBits: Int = 1 << 27, k: Int = 3): DataFrame = {
    val bits = benchBloomBits(benchmarks, benchIdCol, benchTextCol, n, mBits, k)
    val bc = docs.sparkSession.sparkContext.broadcast(bits)
    val sh = shingleRows(docs.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(col(idCol), HashFunctions.portableHashPair(col("__s")).as("__hp"))
      .select(col(idCol), col("__hp.h1").as("__h1"), col("__hp.h2").as("__h2"))
    val might = (0 until k).map { i =>
      val posI = HashFunctions.portableSeededFromParts(col("__h1"), col("__h2"), i) %
        lit(mBits.toLong)
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.BitsetContains(
          org.apache.spark.sql.GraftColumnBridge.expression(posI), bc))
    }.reduce(_ && _)
    // filter BEFORE the distinct aggregate: at a properly sized m hits are
    // rare, so the expensive per-doc count-distinct sees only the flagged
    // sliver of the shingle stream, not the whole corpus
    val hits = sh.filter(might)
      .groupBy(col(idCol))
      .agg(countDistinct(col("__h1")).as("n_flagged_ngrams"))
    docs.join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_flagged_ngrams"))
      .withColumn("contaminated", col("n_flagged_ngrams") > 0)
  }

  /** Exact-substring span dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): find maximal
    * token spans whose every `n`-token window appears verbatim in at least
    * `minDf` DISTINCT documents — boilerplate, licenses, templated pages.
    * Doc-level near-dup (MinHash/SimHash/winnowing) drops whole documents;
    * this locates the repeated REGION so [[removeRepeatedSpans]] can cut it
    * and keep the rest, the reference paper's remedy.
    *
    * Scale shape — inherently linear, no pair expansion anywhere: shingle
    * windows stream out of [[shingleRows]] (one shuffle on doc id), window
    * df is a partial-aggregated count-distinct on the 8-byte portable hash
    * (one shuffle on the hash; the duplicated-hash set carries no doc ids
    * or text), the flag-back join is keyed on the same 8-byte hash, and the
    * overlap-merge is one gaps-and-islands window back on doc id. A
    * boilerplate window shared by millions of docs costs exactly one
    * flagged row per occurrence — there is no bucket to flood and no
    * cap to tune.
    *
    * Cross-doc only: df counts DISTINCT documents, so intra-doc
    * self-repetition stays [[ngramRepetition]]'s job.
    *
    * Output: `(idCol, span_start, span_end)` — token offsets into the
    * [[TextFunctions.normalizeForDedup]] tokenization, end exclusive,
    * overlapping/adjacent windows merged into maximal spans.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minDf: Int = 2): DataFrame = {
    require(n >= 1, s"span window must be >= 1 token (got $n)")
    require(minDf >= 2, s"minDf < 2 would flag every window (got $minDf)")
    val sh = shingleRows(docs.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(col(idCol), col("__pos"),
        HashFunctions.portableHash60(col("__s")).as("__h"))
    val dup = sh.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("__h")
    val flagged = sh.join(dup, "__h").select(col(idCol), col("__pos"))
    mergeFlaggedWindows(flagged, idCol, n)
  }

  /** Gaps-and-islands merge of flagged window start positions into maximal
    * `[span_start, span_end)` spans — the shared tail of [[repeatedSpans]]
    * and [[incrementalRepeatedSpans]]. One window back on the doc id; the
    * following groupBy reuses its hash partitioning (id is a prefix of the
    * group key), so the merge costs a single shuffle.
    */
  private def mergeFlaggedWindows(flagged: DataFrame, idCol: String,
                                  n: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    flagged
      .withColumn("__gap", (col("__pos") >
        coalesce(max(col("__pos") + n)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(-1))).cast("int"))
      .withColumn("__island", sum(col("__gap")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + n).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** One batch's contribution to a persisted span-dedup index: the DISTINCT
    * `(window_hash, doc)` pairs of its `n`-token windows — the unit
    * [[incrementalRepeatedSpans]] probes and the streaming drain appends
    * (idempotently, keyed `(window_hash, idCol)`, so replays never inflate
    * a window's document frequency). At corpus scale the table is written
    * bucketed on `window_hash` — the same pruned-probe discipline as the
    * LSH bucket index.
    */
  def spanHashIndex(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 8): DataFrame =
    shingleRows(docs.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(HashFunctions.portableHash60(col("__s")).as("window_hash"),
        col(idCol))
      .distinct()

  /** INCREMENTAL exact-substring spans for continuous ingest: flag the
    * BATCH's documents against `batch + index` history — the corpus is
    * never re-shingled; the only corpus-side work is a keyed probe of the
    * persisted [[spanHashIndex]] table restricted to window hashes the
    * batch actually contains. Document frequency is a count-distinct over
    * the UNION of (probed index ∪ batch) pairs, so a doc present in both —
    * a replayed batch — counts once and reprocessing is idempotent.
    *
    * Flag-FORWARD semantics (the same trade as [[incrementalCandidates]]'
    * corpus-is-never-rehashed): a window first duplicated by a later batch
    * flags in THAT batch's docs; history is not retro-flagged. For the
    * final batch the incremental spans equal the one-shot
    * [[repeatedSpans]] exactly (its probe sees every earlier doc) —
    * spec-pinned.
    */
  def incrementalRepeatedSpans(newDocs: DataFrame, idCol: String,
                               textCol: String, index: DataFrame,
                               n: Int = 8, minDf: Int = 2): DataFrame = {
    require(n >= 1, s"span window must be >= 1 token (got $n)")
    require(minDf >= 2, s"minDf < 2 would flag every window (got $minDf)")
    val sh = shingleRows(newDocs.select(col(idCol), col(textCol)), idCol,
        textCol, n)
      .select(col(idCol), col("__pos"),
        HashFunctions.portableHash60(col("__s")).as("__h"))
    val batchKeys = sh.select(col("__h")).distinct()
    val seen = index
      .select(col("window_hash").as("__h"), col(idCol))
      .join(batchKeys, "__h") // only hashes the batch touches
      .unionByName(sh.select(col("__h"), col(idCol)))
    val dup = seen.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("__h")
    mergeFlaggedWindows(sh.join(dup, "__h").select(col(idCol), col("__pos")),
      idCol, n)
  }

  /** Cut the [[repeatedSpans]] regions out of each document, keeping the
    * rest — span removal, not doc removal (arXiv:2107.06499 §4). Output:
    * `docs`' columns + `clean_text` (normalized tokens outside every span
    * re-joined), `n_tokens` (pre-cut), `n_removed`. Docs with no repeated
    * span keep their full normalized text; a doc that IS boilerplate
    * (every window shared) cleans to the empty string and can be dropped
    * by a plain filter downstream.
    *
    * Per-doc state is the doc's own span list, bounded by words/`n` — the
    * same per-doc discipline as the media decoders. The positional filter
    * is a nested higher-order function over words × spans; spans per doc
    * are few, and the corpus-scale work all happened in [[repeatedSpans]].
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, minDf: Int = 2): DataFrame =
    stripSpans(docs, idCol, textCol,
      repeatedSpans(docs, idCol, textCol, n, minDf))

  /** Strip `[span_start, span_end)` token ranges out of each doc's
    * normalized token stream — the shared removal tail of
    * [[removeRepeatedSpans]] and [[decontaminateSpans]]. Docs with no
    * spans pass through; output `(idCol, …, n_tokens, n_removed,
    * clean_text)`.
    */
  private def stripSpans(docs: DataFrame, idCol: String, textCol: String,
                         spans: DataFrame): DataFrame = {
    val spanLists = spans
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    docs.join(spanLists, Seq(idCol), "left")
      .withColumn("__words",
        split(TextFunctions.normalizeForDedup(col(textCol)), " "))
      .withColumn("__kept",
        when(col("__spans").isNull, col("__words"))
          .otherwise(filter(col("__words"), (_, i) =>
            !exists(col("__spans"), sp =>
              i.cast("long") >= sp.getField("s") &&
                i.cast("long") < sp.getField("e")))))
      .withColumn("clean_text", array_join(col("__kept"), " "))
      .withColumn("n_tokens", size(col("__words")).cast("long"))
      .withColumn("n_removed",
        (size(col("__words")) - size(col("__kept"))).cast("long"))
      .drop("__spans", "__words", "__kept")
  }

  /** SPAN-LEVEL benchmark decontamination: every maximal corpus span whose
    * `n`-token windows appear anywhere in the benchmark set is REMOVED
    * from the text — [[decontaminate]]'s doc-level flag traded for
    * surgical excision (arXiv:2107.06499 §4's span-removal discipline
    * applied to eval contamination: dropping whole documents over one
    * leaked question throws away the rest of the doc; keeping them leaks
    * the benchmark). Output mirrors [[removeRepeatedSpans]]:
    * `(idCol, …, n_tokens, n_removed, clean_text)`, every doc kept.
    *
    * Scale shape: the bench side collapses to its DISTINCT window hashes
    * and BROADCASTS (eval suites are MBs against a 100 TB corpus; use
    * [[decontaminateBloom]] first as a pre-screen when even the hash set
    * is large); the corpus shingle stream joins map-side on 8-byte longs,
    * and only flagged window starts enter the per-doc islands merge.
    */
  def decontaminateSpans(corpus: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchIdCol: String,
                         benchTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"span window must be >= 1 token (got $n)")
    val benchHashes = shingleRows(
        bench.select(col(benchIdCol), col(benchTextCol)),
        benchIdCol, benchTextCol, n)
      .select(HashFunctions.portableHash60(col("__s")).as("__h"))
      .distinct()
    val flagged = shingleRows(corpus.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .select(col(idCol), col("__pos"),
        HashFunctions.portableHash60(col("__s")).as("__h"))
      .join(broadcast(benchHashes), "__h")
      .select(col(idCol), col("__pos"))
    stripSpans(corpus, idCol, textCol,
      mergeFlaggedWindows(flagged, idCol, n))
  }

  /** Signature width of [[simhashSignatures]]: 60 bits — the width of the
    * portable hash, so every bit of the fingerprint carries an actual vote
    * and the whole construction is engine-independent.
    */
  val SimhashBits = 60

  /** SimHash fingerprints `(idCol, simhash: long)`: bit i of the fingerprint
    * is the sign of the sum over word tokens of (bit i of hash(token) ? +1 :
    * −1). Near-dups have small Hamming distance.
    *
    * Same scale shape as [[minhashSignatures]]: explode words once, hash with
    * the codegen'd portable MD5 hash, take [[SimhashBits]] `sum(when(...))`
    * bit-votes in one hash aggregate (map-side partials), then pack the sign
    * bits. No interpreted higher-order lambdas in the hot path, and no
    * pre-shuffle — partial aggregation combines the votes map-side.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs
      .select(col(idCol),
        explode(split(TextFunctions.normalizeForDedup(col(textCol)), " ")).as("__w"))
      .withColumn("__h", HashFunctions.portableHash60(col("__w")))
    val votes = (0 until SimhashBits).map(i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"__v$i"))
    val bits = (0 until SimhashBits).map(i =>
      when(col(s"__v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    words.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), bits.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-duplicate pairs `(id_a, id_b, hamming)` with
    * `hamming ≤ maxHamming`, id_a < id_b. Candidates come from banding the
    * fingerprint into `nBands` equal bit-blocks: a pair within the Hamming
    * radius collides on at least one block whenever its differing bits fall
    * into ≤ nBands − 1 blocks (pigeonhole guarantees this for
    * maxHamming < nBands; larger radii trade recall, standard SimHash
    * practice).
    *
    * Single pass: fingerprints are computed ONCE, banded by explode, grouped
    * by (band, block), and pairs expand in place carrying the two 8-byte
    * fingerprints — no self-join re-evaluating the signature aggregate, no
    * all-pairs step.
    */
  def simhashNearDup(sigs: DataFrame, idCol: String, maxHamming: Int,
                     nBands: Int = 4, maxBucket: Int = 10000): DataFrame =
    hammingNearDup(sigs, idCol, "simhash", SimhashBits, maxHamming,
      nBands, maxBucket)

  /** Banded Hamming near-dup over ANY ≤ 64-bit fingerprint column (the
    * [[simhashNearDup]] machinery generalized — round 11 adds the 64-bit
    * perceptual image dHash as a second caller): pairs within `maxHamming`
    * that share at least one of `nBands` contiguous bit blocks. The block
    * extraction uses a LOGICAL right shift so a set bit 63 (possible at
    * 64 bits, where the hash is a negative long) cannot smear sign bits
    * across bands; at < 64 bits the value is nonnegative and the logical
    * shift is identical to the old arithmetic one.
    *
    * Scale shape: |docs| × nBands banded rows into ONE shuffle with
    * in-place pair expansion ([[pairsWithinGroups]], `maxBucket` the
    * usual flood guard), exact Hamming via `bit_count(xor)` per candidate.
    */
  def hammingNearDup(sigs: DataFrame, idCol: String, hashCol: String,
                     bits: Int, maxHamming: Int,
                     nBands: Int = 4, maxBucket: Int = 10000): DataFrame = {
    require(bits >= 1 && bits <= 64, "bits must be in 1..64")
    require(bits % nBands == 0, s"nBands must divide $bits")
    val blockBits = bits / nBands
    require(blockBits < 64, "a single 64-bit band never buckets")
    val mask = (1L << blockBits) - 1
    val buckets = sigs.select(
      struct(col(idCol), col(hashCol).as("__h")).as("__p"),
      posexplode(array((0 until nBands).map(i =>
        shiftrightunsigned(col(hashCol), i * blockBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "block")))
    pairsWithinGroups(buckets, Seq("band", "block"), col("__p"), maxBucket)
      .select(col("__a")(idCol).as("id_a"), col("__b")(idCol).as("id_b"),
        bit_count(col("__a")("__h").bitwiseXOR(col("__b")("__h")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Per-document n-gram repetition stats `(idCol, n_grams, n_distinct,
    * dup_fraction)` — the Gopher-style repetition quality signal: a high
    * fraction of duplicate n-grams marks boilerplate/degenerate text.
    * Same scale shape as every signature here: shingles stream out of
    * [[shingleRows]] into one hash aggregate (exact distinct per doc — the
    * group is one document, so the distinct state is doc-local, never a
    * global shuffle). Docs with fewer than n words yield no row.
    */
  def ngramRepetition(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame =
    shingleRows(docs, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("__s")).as("n_distinct"))
      .withColumn("dup_fraction",
        round((col("n_grams") - col("n_distinct")).cast("double") /
          col("n_grams"), 4))

  /** LSH bucket rows `(idCol, band, bucket)` for a batch of documents — the
    * persistable unit of an incremental dedup index. One row per (doc,
    * band); the bucket key is the band's minhash slice as a string
    * (portable, like everything in this family).
    */
  def lshBuckets(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 32, shingleN: Int = 3,
                 bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    require(bands * rowsPerBand == numHashes,
      s"bands($bands) * rowsPerBand($rowsPerBand) must equal numHashes($numHashes)")
    minhashSignaturesFused(docs, idCol, textCol, numHashes, shingleN)
      .select(col(idCol),
        posexplode(array((0 until bands).map { b =>
          concat_ws(",", slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand))
        }: _*)).as(Seq("band", "bucket")))
  }

  /** INCREMENTAL near-dup candidates for continuous ingest: new documents
    * are bucketed and checked against the PERSISTED bucket index of the
    * existing corpus — the corpus is never re-shingled, never re-hashed;
    * the only corpus-side work is against its (id, band, bucket) table.
    * Returns distinct candidate pairs `(id_a, id_b)`, ALWAYS canonicalized
    * `id_a < id_b`, covering both new-vs-corpus and new-vs-new. The
    * canonical orientation is what makes reprocessing idempotent: a batch
    * re-derived after a checkpoint loss finds its docs already in the index
    * (so in-batch pairs arrive via the corpus path, in either orientation)
    * and the keyed idempotent append must see the SAME (id_a, id_b) row.
    *
    * The write side is [[graft.operators.Populate.appendIdempotent]] on the
    * same bucket table keyed by (id, band) — retries never duplicate index
    * rows, so ingest epochs compose: bucket the batch once, derive the
    * candidates, append the batch's buckets, repeat.
    *
    * Scale shape: |batch| × bands rows join the index on (band, bucket) —
    * with the index bucketed/partitioned on the join key this is the same
    * pruned-probe discipline as everything else. `maxBucket` caps
    * boilerplate fan-out PER SIDE: in-batch groups via
    * [[pairsWithinGroups]], and in the cross join both the index side (by
    * document frequency over buckets the batch touches) and the batch side
    * are anti-joined against their flooded buckets — each drain stays
    * linear in the batch. When no cap binds, incremental candidates over a
    * split corpus reproduce the one-shot [[lshCandidates]] set exactly
    * (spec-pinned); a binding cap is per-side here vs combined-group-size
    * there, so boundary behavior can differ — caps are a scale guard, not
    * part of the exact-parity contract.
    */
  def incrementalCandidates(newBuckets: DataFrame, indexBuckets: DataFrame,
                            idCol: String,
                            maxBucket: Int = 10000): DataFrame = {
    val batchKeys = newBuckets.select("band", "bucket").distinct()
    def flooded(df: DataFrame): DataFrame =
      df.groupBy("band", "bucket").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxBucket)
        .select("band", "bucket")
    val vsCorpus = indexBuckets
      .join(batchKeys, Seq("band", "bucket")) // only buckets the batch touches
      .join(flooded(indexBuckets.join(batchKeys, Seq("band", "bucket"))),
        Seq("band", "bucket"), "left_anti")
      .select(col(idCol).as("__ia"), col("band"), col("bucket"))
      .join(newBuckets
          .join(flooded(newBuckets), Seq("band", "bucket"), "left_anti")
          .select(col(idCol).as("__ib"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"))
    val vsBatch = pairsWithinGroups(
      newBuckets.select(struct(col(idCol)).as("__p"), col("band"), col("bucket")),
      Seq("band", "bucket"), col("__p"), maxBucket)
      .select(col("__a")(idCol).as("id_a"), col("__b")(idCol).as("id_b"))
    vsCorpus.unionByName(vsBatch).distinct()
  }
}
