package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (driver brief).
  *
  * Two paths:
  *  - `bruteForceTopK`: exact cosine top-k — the correctness baseline. The
  *    query side broadcasts (queries ≪ corpus) into an all-pairs join
  *    whose corpus side is first spread over the default parallelism (one
  *    linear shuffle in front of quadratic scoring, see [[rankedPairs]]);
  *    top-k per query via a bounded top-k aggregate on the scored pairs
  *    (see [[rankTail]]).
  *  - `lshTopK`: the 100 TB path — both sides bucketed by random-hyperplane
  *    signatures (graft.functions.VectorFunctions.simhashBucket); candidates
  *    come from an equi-join on bucket id, exact cosine re-rank only within
  *    buckets. Recall tunes with nBits/nTables.
  */
object Similarity {

  /** Discover embedding dimensionality with one single-row lookup (the
    * hyperplane literals need it at plan time). */
  private def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Caller-supplied dimension, else the [[vecDim]] lookup: every vector
    * entry point takes `dim: Option[Int]` so composed pipelines calling
    * several operators over the same corpus pay the plan-time discovery
    * job ONCE (or never — the dim is usually in the embedding model's
    * spec). The value is TRUSTED: hyperplane/codebook literals are built
    * to exactly `dim` entries, so an understated dim silently projects a
    * vector PREFIX (and PQ rejects non-divisible dims loudly) — supply the
    * model's real dimension or let the lookup read it.
    */
  private def resolveDim(dim: Option[Int], df: DataFrame, vecCol: String): Int = {
    dim.foreach(d => require(d > 0, "dim must be positive"))
    dim.getOrElse(vecDim(df, vecCol))
  }

  /** LSH signature width from corpus size: `2^bits` buckets sized so the mean
    * bucket holds ~`targetPop` vectors. Bucket-population math: per-table
    * candidate pairs ≈ n·pop/2, so with bits = log₂(n/targetPop) the
    * candidate stream grows LINEARLY in n (n·targetPop/2) — a FIXED bits is
    * a quadratic time bomb (pop = n/2^bits → pairs O(n²)). 8 ≤ bits ≤ 24
    * keeps hyperplane literals bounded and recall sane at small n.
    */
  private def deriveBits(n: Long, targetPop: Int): Int = {
    val raw = math.ceil(math.log(math.max(n, 1L).toDouble / targetPop) /
      math.log(2.0)).toInt
    math.min(24, math.max(8, raw))
  }

  /** One pass for (dim, bits): dim from a single-row lookup; bits derived
    * from a count only when the caller didn't pin nBits (count on a parquet
    * scan is metadata-cheap — no column data read).
    */
  private def dimAndBits(df: DataFrame, vecCol: String, nBits: Int,
                         targetPop: Int, dim: Option[Int]): (Int, Int) =
    if (nBits > 0) (resolveDim(dim, df, vecCol), nBits)
    else (resolveDim(dim, df, vecCol), deriveBits(df.count(), targetPop))

  /** Rank tail of every top-k path: round the score to `scoreDigits` when
    * set ([[VectorFunctions.fastRound]], Spark's `round` bit for bit), rank
    * per query on (score desc, id) and keep ranks `loRank..hiRank`. The
    * ranks are `row_number`'s over that order, from one
    * [[VectorFunctions.boundedTopK]] aggregate per query: a fixed-width
    * `hiRank`-entry buffer, so Spark plans a hash aggregate with a partial
    * step before the shuffle, and no sort of the scored pairs. The score is
    * projected into its own column beneath the aggregate, which keeps the
    * cosine and the rounding in codegen'd code. `idCol` must be integral.
    * Output: (queryIdCol, idCol, `__rank`, scoreCol). */
  private def rankTail(pairs: DataFrame, idCol: String, queryIdCol: String,
                       score: Column, scoreCol: String,
                       scoreDigits: Option[Int],
                       loRank: Int, hiRank: Int): DataFrame =
    pairs
      .select(col(queryIdCol), col(idCol),
        scoreDigits.fold(score)(d => VectorFunctions.fastRound(score, d))
          .as(scoreCol))
      .groupBy(col(queryIdCol))
      .agg(VectorFunctions.boundedTopK(col(scoreCol), col(idCol), hiRank)
        .as("__top"))
      .select(col(queryIdCol),
        explode(slice(col("__top"), loRank, hiRank - loRank + 1)).as("__e"))
      .select(col(queryIdCol), col("__e.id").as(idCol),
        col("__e.rank").as("__rank"), col("__e.score").as(scoreCol))

  /** The all-pairs kernels: every (corpus, query) pair but self-pairs,
    * queries broadcast, then [[rankTail]]. The corpus is round-robin spread
    * over the default parallelism first, never sized by file bytes: a small
    * file is one split, which would run the whole join, score, `round` and
    * partial top-k as one task. The exchange moves each corpus row once,
    * is planned without a job, and AQE keeps its explicit partition count;
    * rows tied on (score, id) are identical, so no result changes. */
  private def rankedPairs(corpus: DataFrame, queries: DataFrame,
                          idCol: String, queryIdCol: String,
                          score: Column, scoreCol: String,
                          scoreDigits: Option[Int],
                          loRank: Int, hiRank: Int): DataFrame =
    rankTail(
      corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .join(broadcast(queries), col(idCol) =!= col(queryIdCol)),
      idCol, queryIdCol, score, scoreCol, scoreDigits, loRank, hiRank)

  /** Exact top-k nearest neighbors by cosine for each query vector.
    * Output: (queryIdCol, idCol, cosine) — k rows per query.
    *
    * @param scoreDigits when set, the cosine is rounded to this many digits
    *                    BEFORE ranking (ties then break on idCol). Full-
    *                    precision ranking is engine-specific at the last ulp —
    *                    two engines computing the same cosine can disagree on
    *                    the rank-k/rank-k+1 boundary; rounding first makes the
    *                    selected top-k set reproducible across engines.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, queryIdCol: String,
                     vecCol: String, k: Int,
                     scoreDigits: Option[Int] = None): DataFrame =
    rankedPairs(corpus.select(col(idCol), col(vecCol)),
      queries.select(col(queryIdCol), col(vecCol).as("__qvec")),
      idCol, queryIdCol, VectorFunctions.cosine(col(vecCol), col("__qvec")),
      "cosine", scoreDigits, 1, k).drop("__rank")

  /** HARD-NEGATIVE mining: for each query, the corpus vectors ranked
    * `loRank..hiRank` by cosine — the contrastive-training draw that skips
    * the near-duplicates (too easy to be informative as positives' clones)
    * and the random tail (too easy as negatives): the standard
    * "semi-hard" band (Schroff et al. 2015's intuition, applied corpus-
    * side). Same ranking contract as [[bruteForceTopK]] (rounded-cosine +
    * id ties ⇒ engine-reproducible band edges). Output: (queryIdCol,
    * idCol, rank, cosine).
    *
    * Scale shape: identical to [[bruteForceTopK]] — the shared
    * [[rankedPairs]] tail (corpus spread over the default parallelism,
    * query side broadcast, per-query bounded top-k); the top-k keeps
    * `hiRank` entries per query and the band slices ranks
    * `loRank..hiRank` out of them.
    */
  def rankBand(corpus: DataFrame, queries: DataFrame,
               idCol: String, queryIdCol: String, vecCol: String,
               loRank: Int, hiRank: Int,
               scoreDigits: Option[Int] = None): DataFrame = {
    require(loRank >= 1 && hiRank >= loRank, "need 1 <= loRank <= hiRank")
    rankedPairs(corpus.select(col(idCol), col(vecCol)),
        queries.select(col(queryIdCol), col(vecCol).as("__qvec")),
        idCol, queryIdCol, VectorFunctions.cosine(col(vecCol), col("__qvec")),
        "cosine", scoreDigits, loRank, hiRank)
      .select(col(queryIdCol), col(idCol), col("__rank").cast("long").as("rank"),
        col("cosine"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998) —
    * the DIVERSE top-k: greedily pick `k` items maximizing
    * `λ·relevance − (1−λ)·max-similarity-to-already-picked`, the coreset /
    * diverse-few-shot draw a training-data pipeline runs after retrieval
    * (pure relevance top-k returns near-duplicates; MMR trades relevance
    * for coverage).
    *
    * Engine-exact integer contract: relevance arrives pre-snapped
    * (`relMicroCol`, micro grid); pairwise similarity snaps as
    * `floor(round(cosine, simDigits)·10⁶)` (identical IEEE double sequence
    * on any engine, explicit floor — never a bare long cast, which rounds
    * on some engines); and the greedy objective is kept UNDIVIDED —
    * `score = λpct·rel − (100−λpct)·maxsim` (the ×100 scale changes no
    * argmax and avoids any floor-vs-truncate hazard). Ties break on the
    * smallest id. Round 1 has no picked set: maxsim = 0, so the first pick
    * is pure-relevance argmax; after it, maxsim OVERWRITES (not `greatest`
    * against the round-1 zero — a negative-cosine corpus must keep its
    * negative maxima).
    *
    * Returns `(rank, id, score_micro100)` in selection order (≤ k rows).
    *
    * Scale shape: k rounds; each is one map-only rescore of the remaining
    * candidates against the SINGLE newest pick (a broadcast literal — the
    * running `maxsim` column carries all earlier picks, so no join against
    * the growing set) + a 1-row `TakeOrderedAndProject` argmax. The only
    * driver state is k (rank, id, score) triples — the BPE-loop collect
    * discipline. Rounds cut lineage through the [[Dedup.Checkpointer]].
    */
  def mmrSelect(cands: DataFrame, idCol: String, vecCol: String,
                relMicroCol: String, k: Int, lambdaPct: Int,
                simDigits: Int = 6,
                checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100, "lambdaPct must be in [0,100]")
    // ids ride through cast("long") + row.getLong + an `id =!= pid` filter: a
    // string/UUID id would null out and either NPE at getLong or silently
    // drop rows through the null-propagating filter. Same loud rejection as
    // Graphs.labelPropagation.
    locally {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = cands.schema(cands.schema.fieldIndex(idCol)).dataType
      require(dt == ByteType || dt == ShortType || dt == IntegerType ||
        dt == LongType,
        s"mmrSelect requires an integral id column; '$idCol' is $dt — " +
          "hash non-numeric ids to longs first (e.g. xxhash64(id))")
    }
    val spark = cands.sparkSession
    import spark.implicits._
    var rem = checkpointer.cut(
      cands.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"),
          col(relMicroCol).cast("long").as("__rel"))
        .withColumn("__ms", lit(0L)))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    try {
      var r = 1
      var exhausted = false
      while (r <= k && !exhausted) {
        val top = rem
          .withColumn("__sc", lit(lambdaPct.toLong) * col("__rel") -
            lit((100 - lambdaPct).toLong) * col("__ms"))
          .orderBy(col("__sc").desc, col("id").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val row = top(0)
          val pid = row.getLong(row.fieldIndex("id"))
          picks += ((r, pid, row.getLong(row.fieldIndex("__sc"))))
          val pv = typedlit(row.getSeq[Float](row.fieldIndex("__v")).toSeq)
          val sim = floor(VectorFunctions.fastRound(
            VectorFunctions.cosine(col("__v"), pv), simDigits) *
            lit(1000000.0)).cast("long")
          val next = checkpointer.cut(
            rem.filter(col("id") =!= pid)
              .withColumn("__ms",
                if (r == 1) sim else greatest(col("__ms"), sim)))
          checkpointer.release(rem)
          rem = next
          r += 1
        }
      }
      checkpointer.release(rem)
    } catch {
      case t: Throwable =>
        checkpointer.release(rem)
        throw t
    }
    picks.toSeq.toDF("rank", "id", "score_micro100")
  }

  /** Top-k by cosine in a Johnson–Lindenstrauss-PROJECTED space
    * ([[VectorFunctions.randomProject]]): both sides are projected onto the
    * same `projDim` portable ±1 planes, then ranked exactly like
    * [[bruteForceTopK]]. Output: (queryIdCol, idCol, cosine_proj).
    *
    * Scale shape: the corpus projection is a map-only pass (materialize it
    * once for a static corpus — `projDim` doubles/row instead of `dim`
    * floats) and then takes the [[rankedPairs]] spread and rank tail;
    * every candidate score costs `projDim` multiply-adds
    * instead of `dim` — at 768-d embeddings projected to 64, a 12× cut in
    * both scan width and scoring FLOPs. The trade is JL distortion
    * (ε ≈ sqrt(ln n / projDim)): use it as the cheap first stage and
    * re-rank the survivors with exact cosine when ranks near the cut
    * matter (SimilaritySpec pins recall against the exact top-k).
    */
  def projectedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, queryIdCol: String,
                    vecCol: String, k: Int, projDim: Int,
                    seed: Int = 42,
                    scoreDigits: Option[Int] = None,
                    dim: Option[Int] = None): DataFrame = {
    require(projDim > 0, "projDim must be positive")
    val d = resolveDim(dim, corpus, vecCol)
    rankedPairs(
      corpus.select(col(idCol),
        VectorFunctions.randomProject(col(vecCol), projDim, d, seed).as("__pv")),
      queries.select(col(queryIdCol),
        VectorFunctions.randomProject(col(vecCol), projDim, d, seed).as("__pq")),
      idCol, queryIdCol, VectorFunctions.cosine(col("__pv"), col("__pq")),
      "cosine_proj", scoreDigits, 1, k).drop("__rank")
  }

  /** Two-stage retrieval: [[projectedTopK]] casts a `candidateFactor·k`
    * net in the cheap JL space, then the survivors are re-ranked by EXACT
    * cosine on the full vectors — the standard prefilter+re-rank shape
    * (SimilaritySpec measures the net's catch rate). Output and ranking
    * semantics match [[bruteForceTopK]]; only candidate generation differs.
    *
    * Scale shape: stage 1 scans projDim-wide vectors (materialize the
    * projection once for a static corpus) and inherits the spread of
    * [[rankedPairs]] through [[projectedTopK]]; stage 2 re-attaches full
    * vectors for only `candidateFactor·k` rows per query via one join on
    * the corpus id — the wide vectors never enter the all-pairs score.
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, queryIdCol: String,
                 vecCol: String, k: Int, projDim: Int,
                 candidateFactor: Int = 3, seed: Int = 42,
                 scoreDigits: Option[Int] = None,
                 dim: Option[Int] = None): DataFrame = {
    require(candidateFactor >= 1, "candidateFactor must be >= 1")
    val cands = projectedTopK(corpus, queries, idCol, queryIdCol, vecCol,
        k = candidateFactor * k, projDim = projDim, seed = seed,
        scoreDigits = scoreDigits, dim = dim)
      .select(col(queryIdCol), col(idCol))
    rankTail(cands
        .join(broadcast(queries.select(col(queryIdCol), col(vecCol).as("__qvec"))),
          Seq(queryIdCol))
        .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol)),
      idCol, queryIdCol, VectorFunctions.cosine(col(vecCol), col("__qvec")),
      "cosine", scoreDigits, 1, k).drop("__rank")
  }

  /** LSH-bucketed approximate top-k: multi-table random-hyperplane bucketing;
    * candidates = bucket collisions in ANY table; exact cosine re-rank.
    *
    * Scale shape: candidate generation and dedup carry ONLY ids — the
    * (table, bucket) join and the pair dedup shuffle 16 bytes/row, not
    * 2×dim floats. Vectors are re-attached afterwards: the query side
    * broadcasts (queries ≪ corpus), the corpus side joins on its id once.
    *
    * @param nBits signature width; 0 (default) derives it from corpus size so
    *              mean bucket population stays ~constant — see [[deriveBits]]
    *              for why a fixed width goes quadratic.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, queryIdCol: String,
              vecCol: String, k: Int,
              nBits: Int = 0, nTables: Int = 4,
              scoreDigits: Option[Int] = None,
              dim: Option[Int] = None): DataFrame = {
    val (d, bits) = dimAndBits(corpus, vecCol, nBits, targetPop = 32, dim)
    def bucketIds(df: DataFrame, id: String): DataFrame =
      df.select(col(id),
        posexplode(VectorFunctions.simhashBuckets(col(vecCol), nTables, bits,
          seed = 42, dim = d)).as(Seq("__table", "__bucket")))

    val pairs = bucketIds(corpus, idCol)
      .join(bucketIds(queries, queryIdCol), Seq("__table", "__bucket"))
      .filter(col(idCol) =!= col(queryIdCol))
      .select(col(idCol), col(queryIdCol))
      .dropDuplicates(idCol, queryIdCol)
    rankTail(pairs
        .join(broadcast(queries.select(col(queryIdCol), col(vecCol).as("__qvec"))),
          Seq(queryIdCol))
        .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol)),
      idCol, queryIdCol, VectorFunctions.cosine(col(vecCol), col("__qvec")),
      "cosine", scoreDigits, 1, k).drop("__rank")
  }

  /** Per-dimension scalar-quantization bounds `(mins, maxs)` over the
    * corpus — the training half of SQ8 (the FAISS `SQ8` discipline): one
    * posexplode + per-dimension min/max aggregate, a `dim`-row driver
    * collect (catalog-scale, same class as [[vecDim]]).
    */
  def sqTrain(corpus: DataFrame, vecCol: String)
      : (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy("__d")
      .agg(min(col("__x").cast("double")).as("mn"),
        max(col("__x").cast("double")).as("mx"))
      .collect()
    val dim = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1)
      maxs(r.getInt(0)) = r.getDouble(2)
    }
    (mins, maxs)
  }

  /** Encode a vector to uint8 codes (`array<int>` in [0, 255]):
    * `round(255·(x_i − min_i)/(max_i − min_i))` clamped, constant
    * dimensions code to 0. 4× smaller than float32 — the memory/shuffle
    * cut that makes a billion-vector corpus fit executor RAM; codes are
    * integer-exact so any engine replays them (modulo a rounding-boundary
    * ulp, the accepted DSIR class).
    */
  def sqEncode(vec: Column, mins: Array[Double],
               maxs: Array[Double]): Column = {
    val codes = mins.indices.map { i =>
      val x = element_at(vec, i + 1).cast("double")
      if (maxs(i) == mins(i)) lit(0)
      else least(lit(255), greatest(lit(0),
        VectorFunctions.fastRound(
          (x - lit(mins(i))) * lit(255.0 / (maxs(i) - mins(i))), 0)
          .cast("int")))
    }
    array(codes: _*)
  }

  /** Decode SQ8 codes back to doubles:
    * `min_i + code·((max_i − min_i)/255)` — the reconstruction used for
    * asymmetric distance (raw query vs decoded corpus).
    */
  def sqDecode(codes: Column, mins: Array[Double],
               maxs: Array[Double]): Column =
    array(mins.indices.map { i =>
      lit(mins(i)) + element_at(codes, i + 1).cast("double") *
        lit((maxs(i) - mins(i)) / 255.0)
    }: _*)

  /** Top-k by ASYMMETRIC cosine: the corpus is stored as SQ8 codes
    * (4 B → 1 B per dimension), each candidate is decoded in-plan and
    * scored against the RAW query vector — FAISS's ADC shape. Ranking
    * matches [[bruteForceTopK]] (round + id tie-break); recall loss is
    * the quantization error (≤ half a code step per dimension,
    * SimilaritySpec measures it). Scoring takes the [[rankedPairs]] tail.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, queryIdCol: String,
             vecCol: String, k: Int,
             scoreDigits: Option[Int] = None): DataFrame = {
    val (mins, maxs) = sqTrain(corpus, vecCol)
    rankedPairs(
      corpus.select(col(idCol), sqEncode(col(vecCol), mins, maxs).as("__codes")),
      queries.select(col(queryIdCol), col(vecCol).as("__qvec")),
      idCol, queryIdCol,
      VectorFunctions.cosine(sqDecode(col("__codes"), mins, maxs), col("__qvec")),
      "cosine_sq", scoreDigits, 1, k).drop("__rank")
  }

  /** Product-quantization codebooks (Jégou et al. 2011): the dimension is
    * split into `m` contiguous subspaces and each subspace gets a
    * `k`-entry codebook — here the sub-vectors of the `k` hash-smallest
    * corpus rows (the [[sampledCenters]] discipline: deterministic,
    * engine-reproducible; swap in per-subspace k-means offline exactly
    * like IVF's `trainCenters` when recall matters more than replay).
    * Returns `[m][k][subDim]`. Requires `dim % m == 0`.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, dim: Option[Int] = None,
              sampleSkip: Int = 0): Array[Array[Array[Float]]] = {
    require(m > 0 && k > 0, "m and k must be positive")
    val d = resolveDim(dim, corpus, vecCol)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    val sampled = sampledCenters(corpus, idCol, vecCol, k, sampleSkip)
    require(sampled.length == k,
      s"corpus has fewer than ${sampleSkip + k} rows")
    Array.tabulate(m)(mi =>
      sampled.map(v => v.slice(mi * sub, (mi + 1) * sub)))
  }

  /** Encode to `m` codebook ids (`array<int>`): per subspace the argmin of
    * `||c||² − 2·v·c` over the k centroids, first-min tie-break (lowest
    * centroid id — the same measure-zero double-tie caveat as q101's
    * argmin). `dim` floats → `m` small ints.
    */
  def pqEncode(vec: Column,
               codebooks: Array[Array[Array[Float]]])
      : Column = {
    val sub = codebooks.head.head.length
    val codes = codebooks.indices.map { mi =>
      val vSub = slice(vec, mi * sub + 1, sub)
      val dists = array(codebooks(mi).map { c =>
        val cc = c.indices.foldLeft(0.0)((a, j) =>
          a + c(j).toDouble * c(j).toDouble)
        lit(cc) - lit(2.0) * VectorFunctions.dot(vSub, typedlit(c.toSeq))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(codes: _*)
  }

  /** Reconstruct the `dim`-double vector from PQ codes (centroid lookup
    * per subspace, concatenated).
    */
  def pqDecode(codes: Column,
               codebooks: Array[Array[Array[Float]]])
      : Column =
    concat(codebooks.indices.map { mi =>
      val book = codebooks(mi).map(_.map(_.toDouble).toSeq).toSeq
      element_at(typedlit(book), element_at(codes, mi + 1) + 1)
    }: _*)

  /** Top-k by asymmetric cosine over PQ-RECONSTRUCTED candidates — the
    * ADC shape at `m` bytes per vector (64-d × 4 B = 256 B → 8 B at
    * m=8): coarser than [[sqTopK]]'s 1 B/dim, the regime where the
    * corpus' vector bytes must all but vanish. Ranking semantics match
    * [[bruteForceTopK]]; scoring takes the [[rankedPairs]] tail.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, queryIdCol: String,
             vecCol: String, k: Int, m: Int = 8, nCodes: Int = 16,
             codebooks: Option[Array[Array[Array[Float]]]] = None,
             scoreDigits: Option[Int] = None,
             dim: Option[Int] = None): DataFrame = {
    val books = codebooks.getOrElse(
      pqTrain(corpus, idCol, vecCol, m, nCodes, dim))
    rankedPairs(
      corpus.select(col(idCol), pqEncode(col(vecCol), books).as("__codes")),
      queries.select(col(queryIdCol), col(vecCol).as("__qvec")),
      idCol, queryIdCol,
      VectorFunctions.cosine(pqDecode(col("__codes"), books), col("__qvec")),
      "cosine_pq", scoreDigits, 1, k).drop("__rank")
  }

  /** Train PQ codebooks OFFLINE with per-subspace MLlib KMeans — the
    * [[trainCenters]] discipline applied to [[pqTrain]]'s pluggable
    * codebook slot: run once per corpus (or per re-index), persist the
    * `[m][k][subDim]` matrix, and pass it as `codebooks` to [[pqTopK]] /
    * [[pqEncode]] / [[writeIvfPqIndex]]. Lloyd-refined sub-codebooks cut
    * per-subspace quantization error versus the hash-sampled fallback,
    * which lifts both reconstruction fidelity and recall@k at the same m
    * (spec-asserted on the planted-cluster corpus).
    *
    * Cost: `m` KMeans fits, each a column-pruned pass over `dim/m` doubles
    * per row (the slice projects before the shuffle); subspace seeds
    * differ so identical subspace distributions still train independent
    * books. Deliberately NOT wired into the oracled query path: KMeans
    * iteration order is engine-private ([[trainCenters]] has the full
    * argument), so the deterministic hash-sample stays the
    * cross-engine-checkable default.
    */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, m: Int, k: Int,
                       maxIter: Int = 20, seed: Long = 42L,
                       dim: Option[Int] = None)
      : Array[Array[Array[Float]]] = {
    require(m > 0 && k > 0, "m and k must be positive")
    val d = resolveDim(dim, corpus, vecCol)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    Array.tabulate(m) { mi =>
      val ds = corpus.select(org.apache.spark.ml.functions.array_to_vector(
        slice(col(vecCol), mi * sub + 1, sub).cast("array<double>"))
        .as("features"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setMaxIter(maxIter).setSeed(seed + mi)
        .setFeaturesCol("features")
        .fit(ds)
        .clusterCenters.map(_.toArray.map(_.toFloat))
    }
  }

  /** Deterministic coarse-quantizer centers: the `nCentroids` corpus vectors
    * with the smallest portable hash of their id — a seeded pseudo-random
    * sample that any engine reproduces (ties break on id). One tiny driver
    * collect (nCentroids rows), same class of touch as [[vecDim]].
    *
    * @param skip drop the first `skip` rows of the hash order before
    *              taking the sample — lets a SECOND sample (e.g. residual
    *              PQ codebooks) avoid coinciding with a first (the IVF
    *              centers), which would be degenerate: a center row's own
    *              residual is exactly zero. */
  private def sampledCenters(corpus: DataFrame, idCol: String, vecCol: String,
                             nCentroids: Int, skip: Int = 0): Array[Array[Float]] =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(graft.functions.HashFunctions.portableHash60(
        col(idCol).cast("string")), col(idCol))
      .limit(skip + nCentroids)
      .collect()
      .drop(skip)
      .map(_.getSeq[Float](1).toArray)

  /** Train the IVF coarse quantizer OFFLINE with MLlib KMeans — the scale
    * path the [[ivfTopK]]/[[writeIvfIndex]] scaladoc promises: run this once
    * per corpus (or per re-index), persist the returned matrix, and pass it
    * as `centers` everywhere. Lloyd-refined centers cut quantization error
    * versus the hash-sampled fallback, which lifts probe recall at the same
    * nProbe (spec-asserted on a planted-cluster corpus).
    *
    * Deliberately NOT wired into the oracled query path: KMeans iteration
    * order is engine-private, so trained centers are reproducible only given
    * the same library — the deterministic hash-sample stays the
    * cross-engine-checkable default ([[sampledCenters]]).
    */
  def trainCenters(corpus: DataFrame, vecCol: String, nCentroids: Int,
                   maxIter: Int = 20, seed: Long = 42L): Array[Array[Float]] = {
    val ds = corpus.select(org.apache.spark.ml.functions.array_to_vector(
      col(vecCol).cast("array<double>")).as("features"))
    new org.apache.spark.ml.clustering.KMeans()
      .setK(nCentroids).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features")
      .fit(ds)
      .clusterCenters.map(_.toArray.map(_.toFloat))
  }

  /** One distributed Lloyd (k-means) iteration over the corpus,
    * oracle-checkable — the cross-engine-verifiable counterpart of the
    * engine-private [[trainCenters]]: assignment reuses the shared
    * codegen'd quantizer ([[cellScores]] argmin, identical distance and
    * tie semantics as every IVF path); the update emits per cell the
    * captured count and the per-dimension MICRO-INTEGER coordinate sums
    * (`floor(10⁶·x)` per component, BIGINT-summed — order-independent, so
    * both engines land identical totals; callers rebuild the refined
    * centroid as `sums/(10⁶·n)`). Cells that captured nothing are absent —
    * re-seeding them is a catalog-scale driver decision, like the centers
    * themselves. Output: `(cell, n, sums_micro: array<bigint>)`.
    *
    * Scale shape: assignment is a map-only pass (centers are broadcast
    * literals); the update is posexplode → ONE hash aggregate on (cell,
    * dim) with map-side partials — the shuffle carries nCentroids·dim
    * partial-sum rows, not the corpus — then an nCentroids-row array
    * reassembly. Iterating = calling this per round on the rebuilt
    * centers; each round is one corpus pass, the Lloyd minimum.
    */
  def kmeansStep(corpus: DataFrame, idCol: String, vecCol: String,
                 nCentroids: Int = 16,
                 centers: Option[Array[Array[Float]]] = None): DataFrame = {
    val cents: Array[Array[Float]] =
      centers.getOrElse(sampledCenters(corpus, idCol, vecCol, nCentroids))
    assignCells(corpus, idCol, vecCol, cents)
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy("cell", "__d")
      .agg(count(lit(1)).as("__n"),
        sum(floor(lit(1e6) * col("__x").cast("double")).cast("long"))
          .as("__s"))
      .groupBy("cell")
      .agg(max("__n").as("n"), // every dim carries the cell's full count
        expr("transform(array_sort(collect_list(struct(__d, __s)))," +
          " p -> p.__s)").as("sums_micro"))
      .select(col("cell").cast("long").as("cell"), col("n"),
        col("sums_micro"))
  }

  /** Per-cell clustering quality under the shared quantizer — the
    * evaluation companion of [[kmeansStep]] (FAISS's imbalance/quantization
    * diagnostics, computed engine-exactly): for each cell,
    *
    *  - `n` — captured points (imbalance shows directly);
    *  - `inertia_micro` — Σ floor(10⁶·‖x−c‖²) over its points: compactness,
    *    the k-means objective itself. The full distance is restored as
    *    `x·x + (c·c − 2·x·c)` — the parenthesized term IS the quantizer's
    *    score, so assignment and evaluation cannot diverge;
    *  - `margin_micro` — Σ floor(10⁶·(s₂ − s₁)) over its points, where
    *    s₁, s₂ are the best and second-best quantizer scores: separation.
    *    The `x·x` term cancels in the difference, so the margin equals
    *    `‖x−c₂‖² − ‖x−c₁‖²` EXACTLY with no extra arithmetic.
    *
    * Per-point terms floor-snap to the micro grid BEFORE the sum (integer
    * totals are order-free — the [[kmeansStep]] discipline). Requires ≥ 2
    * centers (the margin needs a runner-up).
    *
    * Scale shape: one map-only corpus pass (centers are broadcast
    * literals; the sorted score array is the same codegen'd [[cellScores]]
    * expression every IVF path compiles) into ONE nCentroids-row hash
    * aggregate with map-side partials.
    */
  def clusterQuality(corpus: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int = 16,
                     centers: Option[Array[Array[Float]]] = None)
      : DataFrame = {
    val cents: Array[Array[Float]] =
      centers.getOrElse(sampledCenters(corpus, idCol, vecCol, nCentroids))
    require(cents.length >= 2, "clusterQuality needs >= 2 centers")
    val sorted = sort_array(cellScores(cents, vecCol))
    corpus
      .select(col(idCol), col(vecCol),
        sorted.getItem(0).getField("i").as("cell"),
        sorted.getItem(0).getField("s").as("__a"),
        sorted.getItem(1).getField("s").as("__b"))
      .withColumn("__xx", VectorFunctions.dot(col(vecCol), col(vecCol)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        sum(floor(lit(1e6) * (col("__xx") + col("__a"))).cast("long"))
          .as("inertia_micro"),
        sum(floor(lit(1e6) * (col("__b") - col("__a"))).cast("long"))
          .as("margin_micro"))
      .select(col("cell").cast("long").as("cell"), col("n"),
        col("inertia_micro"), col("margin_micro"))
  }

  /** IVF (inverted-file) approximate top-k — the second scale path beside
    * LSH: a coarse quantizer partitions the corpus into cells; each query
    * probes its `nProbe` nearest cells and re-ranks exactly within them. At
    * 100 TB the corpus is written partitioned by `centroid` so a probe reads
    * nProbe/nCentroids of the data (same partition-pruning discipline as the
    * time chunks).
    *
    * The quantizer is NOT fitted here: at scale you train it offline once
    * (KMeans or whatever) and pass the float matrix via `centers`; fitting
    * per query was never the scale path. When `centers` is absent the cells
    * come from [[sampledCenters]] — a deterministic hash-sample of corpus
    * vectors (FAISS-style random init without Lloyd refinement), which keeps
    * the whole operator engine-reproducible and therefore oracle-checkable.
    *
    * Centroid assignment is pure codegen'd expressions: argmin over
    * `||c_i||² − 2·v·c_i` with literal centers via VecDot; struct array_min
    * compares lexicographically (score, then index) → deterministic ties.
    *
    * @param scoreDigits as in [[bruteForceTopK]]: rank on the cosine rounded
    *                    to this many digits (id tiebreak) so the selected
    *                    top-k is reproducible across engines.
    *
    * Invariant (SimilaritySpec): nProbe == nCentroids degenerates to exact
    * brute force.
    */
  /** `array<struct<s,i>>` of (distance score, cell index) per row — the
    * codegen'd quantizer: `||c_i||² − 2·v·c_i` with literal centers.
    * `array_min` of it is the assignment (lexicographic: score, then index —
    * deterministic ties); sorted-prefix is the probe list.
    */
  private def cellScores(cents: Array[Array[Float]], vecCol: String,
                         withCosine: Boolean = false) =
    array(cents.indices.map { i =>
      val c = cents(i)
      val norm2 = c.map(x => x.toDouble * x).sum
      val base = Seq(
        (lit(norm2) - lit(2.0) * VectorFunctions.dot(col(vecCol), typedlit(c.toSeq)))
          .as("s"),
        lit(i).as("i"))
      // `withCosine` rides the centroid COSINE along as a third field (the
      // keeper rule of [[semanticDedup]] needs the scale-invariant score);
      // (s, i) stays unique, so array_min never consults it — ONE quantizer
      // expression serves every caller, so distance/tie-break semantics
      // cannot silently diverge between assignment paths
      val fields = if (withCosine)
        base :+ VectorFunctions.cosine(col(vecCol), typedlit(c.toSeq)).as("kc")
      else base
      struct(fields: _*)
    }: _*)

  /** Shared IVF tail: exact cosine over (cell-joined) candidates, top-k per
    * query through [[rankTail]], optional rounded ranking. */
  private def rankCandidates(assigned: DataFrame, probes: DataFrame,
                             idCol: String, queryIdCol: String, vecCol: String,
                             k: Int, scoreDigits: Option[Int]): DataFrame =
    rankTail(assigned.join(probes, Seq("__cell"))
        .filter(col(idCol) =!= col(queryIdCol)),
      idCol, queryIdCol, VectorFunctions.cosine(col(vecCol), col("__qvec")),
      "cosine", scoreDigits, 1, k).drop("__rank")

  private def probesFor(queries: DataFrame, cents: Array[Array[Float]],
                        queryIdCol: String, vecCol: String, nProbe: Int): DataFrame =
    queries.select(col(queryIdCol), col(vecCol).as("__qvec"),
      explode(transform(slice(sort_array(cellScores(cents, vecCol)), 1, nProbe),
        s => s.getField("i"))).as("__cell"))

  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, queryIdCol: String,
              vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              centers: Option[Array[Array[Float]]] = None,
              scoreDigits: Option[Int] = None): DataFrame = {
    val cents: Array[Array[Float]] =
      centers.getOrElse(sampledCenters(corpus, idCol, vecCol, nCentroids))
    val assigned = corpus.select(col(idCol), col(vecCol),
      array_min(cellScores(cents, vecCol)).getField("i").as("__cell"))
    rankCandidates(assigned, probesFor(queries, cents, queryIdCol, vecCol, nProbe),
      idCol, queryIdCol, vecCol, k, scoreDigits)
  }

  /** Materialize the IVF index as a PHYSICAL layout: the corpus written to
    * parquet partitioned by cell id (`cell=N/` directories). This is the
    * actual 100 TB shape — [[ivfTopK]] recomputes assignment per query over
    * the whole corpus, which is the right tool ad hoc; an index you probe
    * repeatedly should pay assignment ONCE at write time, after which every
    * probe reads nProbe/nCentroids of the data via partition pruning (the
    * same discipline as the hourly time chunks). Returns the centers to
    * probe with ([[ivfProbe]]).
    */
  def writeIvfIndex(corpus: DataFrame, path: String,
                    idCol: String, vecCol: String,
                    nCentroids: Int = 16,
                    centers: Option[Array[Array[Float]]] = None): Array[Array[Float]] = {
    val cents: Array[Array[Float]] =
      centers.getOrElse(sampledCenters(corpus, idCol, vecCol, nCentroids))
    corpus.select(col(idCol), col(vecCol),
        array_min(cellScores(cents, vecCol)).getField("i").as("cell"))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    cents
  }

  /** Probe a materialized IVF index ([[writeIvfIndex]]): compute each
    * query's nProbe cells, restrict the index scan to those partitions
    * (`cell IN (...)` — partition pruning, asserted physical in
    * SimilaritySpec), exact-rerank within. The probed cell list crosses the
    * driver — nQueries × nProbe ints, catalog-scale metadata. Quantizing
    * the queries runs twice (once to plan the pruning, once in the probe
    * join) — queries ≪ corpus makes that negligible; persist `queries`
    * first for large query batches.
    */
  def ivfProbe(spark: org.apache.spark.sql.SparkSession, indexPath: String,
               centers: Array[Array[Float]], queries: DataFrame,
               idCol: String, queryIdCol: String, vecCol: String,
               k: Int, nProbe: Int = 4,
               scoreDigits: Option[Int] = None): DataFrame = {
    val probes = probesFor(queries, centers, queryIdCol, vecCol, nProbe)
    val activeCells = probes.select("__cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = spark.read.parquet(indexPath)
      .filter(col("cell").isin(activeCells: _*))
      .withColumnRenamed("cell", "__cell")
    rankCandidates(assigned, probes, idCol, queryIdCol, vecCol, k, scoreDigits)
  }

  /** IVF × SQ8 — the FAISS production composition: the cell-partitioned
    * index ([[writeIvfIndex]]) stores uint8 CODES instead of float vectors,
    * so a probe pays BOTH savings at once — partition pruning cuts WHICH
    * cells are read, quantization cuts the BYTES per row read (4× on the
    * vector column). Returns (centers, mins, maxs) — the probe needs all
    * three; persist them with the index as its identity.
    */
  def writeIvfSqIndex(corpus: DataFrame, path: String,
                      idCol: String, vecCol: String,
                      nCentroids: Int = 16,
                      centers: Option[Array[Array[Float]]] = None)
      : (Array[Array[Float]], Array[Double], Array[Double]) = {
    val cents: Array[Array[Float]] =
      centers.getOrElse(sampledCenters(corpus, idCol, vecCol, nCentroids))
    val (mins, maxs) = sqTrain(corpus, vecCol)
    corpus.select(col(idCol),
        sqEncode(col(vecCol), mins, maxs).as("codes"),
        array_min(cellScores(cents, vecCol)).getField("i").as("cell"))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    (cents, mins, maxs)
  }

  /** Probe an [[writeIvfSqIndex]] store: partition-pruned cell scan,
    * in-plan SQ8 decode, asymmetric cosine re-rank against the raw query
    * — [[ivfProbe]] semantics at a quarter of the scan bytes.
    */
  def ivfSqProbe(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                 centers: Array[Array[Float]],
                 mins: Array[Double], maxs: Array[Double],
                 queries: DataFrame,
                 idCol: String, queryIdCol: String, vecCol: String,
                 k: Int, nProbe: Int = 4,
                 scoreDigits: Option[Int] = None): DataFrame = {
    val probes = probesFor(queries, centers, queryIdCol, vecCol, nProbe)
    val activeCells = probes.select("__cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = spark.read.parquet(indexPath)
      .filter(col("cell").isin(activeCells: _*))
      .withColumnRenamed("cell", "__cell")
      .withColumn(vecCol, sqDecode(col("codes"), mins, maxs))
      .drop("codes")
    rankCandidates(assigned, probes, idCol, queryIdCol, vecCol, k,
      scoreDigits)
  }

  /** IVF × PQ — the FAISS BILLION-scale composition (IVFADC, Jégou et al.
    * 2011 §IV): the cell-partitioned index stores `m` codebook ids per
    * vector instead of floats, so a probe pays partition pruning on WHICH
    * cells are read and the `dim·4 B → m B` cut on every row it does read
    * — coarser than [[writeIvfSqIndex]]'s 1 B/dim, the regime where the
    * corpus' vector bytes must all but vanish. Returns (centers,
    * codebooks) — the probe needs both; persist them with the index as
    * its identity (they are its model artifact, like SQ's bounds).
    *
    * `residual = true` is the paper's full IVFADC: PQ encodes the RESIDUAL
    * `v − c(v)` instead of `v` (codebooks trained on residuals too), and
    * the probe adds the cell centroid back before scoring. Residuals
    * cluster around zero regardless of where cells sit in the space, so
    * the same code budget quantizes finer — the probe must then be given
    * the same flag. The residual rides as float32 (the codebook's own
    * precision) so encode and replay stay engine-exact.
    */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
                      idCol: String, vecCol: String,
                      nCentroids: Int = 16, m: Int = 8, nCodes: Int = 16,
                      centers: Option[Array[Array[Float]]] = None,
                      codebooks: Option[Array[Array[Array[Float]]]] = None,
                      residual: Boolean = false)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val cents: Array[Array[Float]] =
      centers.getOrElse(sampledCenters(corpus, idCol, vecCol, nCentroids))
    val cellCol = array_min(cellScores(cents, vecCol)).getField("i")
    val encoded =
      if (!residual)
        corpus.select(col(idCol), col(vecCol), cellCol.as("cell"))
      else
        corpus.select(col(idCol),
          zip_with(col(vecCol), element_at(centroidLit(cents), cellCol + 1),
            (a, b) => a - b).cast("array<float>").as(vecCol),
          cellCol.as("cell"))
    val books: Array[Array[Array[Float]]] =
      codebooks.getOrElse(pqTrain(encoded, idCol, vecCol, m, nCodes,
        // residual codebooks sample PAST the center rows: a center's own
        // residual is exactly zero, so the coinciding hash sample would
        // yield an all-zeros codebook
        sampleSkip = if (residual) nCentroids else 0))
    encoded.select(col(idCol),
        pqEncode(col(vecCol), books).as("codes"),
        col("cell"))
      .write.partitionBy("cell")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    (cents, books)
  }

  /** The centers matrix as a literal `array<array<double>>` column for
    * in-plan residual arithmetic (KBs — the same class of literal as the
    * per-cell [[cellScores]] planes). */
  private def centroidLit(cents: Array[Array[Float]]) =
    typedlit(cents.map(_.map(_.toDouble).toSeq).toSeq)

  /** Probe a [[writeIvfPqIndex]] store: partition-pruned cell scan, in-plan
    * PQ reconstruction (centroid lookup per subspace — the ADC decode;
    * plus the cell centroid when the index was written `residual = true`),
    * asymmetric cosine re-rank against the raw query. [[ivfSqProbe]]
    * semantics at `m` bytes per corpus vector; SimilaritySpec pins
    * nProbe == nCentroids ≡ flat [[pqTopK]] row-for-row (non-residual)
    * and exact self-reconstruction of codebook-sampled rows (residual).
    */
  def ivfPqProbe(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                 centers: Array[Array[Float]],
                 codebooks: Array[Array[Array[Float]]],
                 queries: DataFrame,
                 idCol: String, queryIdCol: String, vecCol: String,
                 k: Int, nProbe: Int = 4,
                 scoreDigits: Option[Int] = None,
                 residual: Boolean = false): DataFrame = {
    val probes = probesFor(queries, centers, queryIdCol, vecCol, nProbe)
    val activeCells = probes.select("__cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val decoded =
      if (!residual) pqDecode(col("codes"), codebooks)
      else zip_with(element_at(centroidLit(centers), col("__cell") + 1),
        pqDecode(col("codes"), codebooks), (a, b) => a + b)
    val assigned = spark.read.parquet(indexPath)
      .filter(col("cell").isin(activeCells: _*))
      .withColumnRenamed("cell", "__cell")
      .withColumn(vecCol, decoded)
      .drop("codes")
    rankCandidates(assigned, probes, idCol, queryIdCol, vecCol, k,
      scoreDigits)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH buckets
    * (dedup-by-embedding; pairs with id_a < id_b).
    *
    * Same scale shape as [[lshTopK]]: the self-join and pair dedup move only
    * (id_a, id_b); both vector re-attachments are id equi-joins against the
    * corpus, so vectors cross the wire once per candidate side, after dedup.
    *
    * @param nBits 0 (default) derives the width from corpus size
    *              ([[deriveBits]], targetPop 8 — near-dup wants small buckets
    *              because the candidate stream is bucket-quadratic). Pairs at
    *              cosine ≥ threshold collide per table with probability
    *              (1 − θ/π)^bits, so wider signatures trade candidate volume
    *              against recall; nTables independent tables claw recall back.
    */
  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): quantize the corpus into `nCells` centroid cells,
    * score every pair WITHIN a cell, resolve pairs at cosine ≥ `threshold`
    * into duplicate groups, and keep one representative per group — the
    * member with the highest cosine to its cell centroid (the paper ablated
    * keeper choices and found they barely matter; this one is deterministic
    * and engine-replayable), ties breaking on id. The reference has no semantic
    * layer (its dedup is keyed); this is the embedding-space sibling of the
    * lexical [[graft.operators.Dedup]] family from the pipeline brief.
    *
    * Returns one row per corpus doc: `(idCol, cell, cluster, is_kept)` —
    * `cluster` is the duplicate-group label (its minimum member id;
    * singletons label themselves), `is_kept` marks the group
    * representative. `idCol` must be integral (labels propagate as longs
    * through [[Dedup.connectedComponents]], which rejects other types
    * loudly); hash string ids to longs first.
    *
    * Scale shape:
    *  - cell assignment is [[ivfTopK]]'s quantizer — pure codegen'd
    *    expressions over literal centers, zero shuffle;
    *  - within-cell pairing is cell-quadratic BY DESIGN (the paper's
    *    semantics: the quantizer keeps each cell a vanishing fraction of
    *    the corpus — ~100k cells at real scale). ONE shuffle keyed on the
    *    cell carries each vector exactly once (each doc lives in exactly
    *    one cell — unlike the LSH multi-table self-join, whose candidate
    *    stream must dedup pairs and re-join vectors by id);
    *  - the flood guard fails the job in-plan (`assert_true` over a
    *    per-cell count window) if a degenerate quantizer packs a cell past
    *    `maxCellSize` — BEFORE the quadratic pair stream of that cell
    *    materializes; the window's hash partitioning on the cell is reused
    *    by the pair join, so the guard costs no extra shuffle;
    *  - near-dups split across a cell boundary are MISSED — the recall
    *    trade the paper accepts; lift recall with more/better centers
    *    ([[trainCenters]]) rather than cross-cell joins;
    *  - cluster resolution is [[Dedup.connectedComponents]] (transitive
    *    closure, one label shuffle per round): a declarative strengthening
    *    of the paper's greedy within-cluster scan — both keep one doc per
    *    connected duplicate group, and closure makes the grouping
    *    order-free and engine-reproducible (oracle-checkable).
    *
    * @param scoreDigits round the pair cosine (and the keeper's quantizer
    *                    score) to this many digits before thresholding and
    *                    ranking, so the selection replays across engines.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCells: Int = 16,
                    centers: Option[Array[Array[Float]]] = None,
                    scoreDigits: Option[Int] = Some(6),
                    maxCellSize: Int = 1 << 20,
                    checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local): DataFrame = {
    val cents: Array[Array[Float]] =
      centers.getOrElse(sampledCenters(corpus, idCol, vecCol, nCells))
    // the shared quantizer with the centroid COSINE riding along: the
    // quantizer score `‖c‖² − 2·v·c` drops the constant-per-doc ‖v‖² term,
    // so it ranks cells for one doc but can NOT compare different docs'
    // centroid proximity — the keeper rule needs the scale-invariant cosine
    val best = array_min(cellScores(cents, vecCol, withCosine = true))
    val rawKc = best.getField("kc")
    val assigned = corpus.select(col(idCol), col(vecCol),
      best.getField("i").as("cell"),
      scoreDigits.fold(rawKc)(d => VectorFunctions.fastRound(rawKc, d)).as("__kc"))
    // the guarded assignment feeds BOTH sides of the pair join AND the
    // final keeper join — cut it once (same discipline as
    // connectedComponents' edge list) or the full-corpus scan + quantizer
    // + flood-guard window recompute three times
    val guarded = checkpointer.cut(assigned
      .withColumn("__csz", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .filter(assert_true(col("__csz") <= maxCellSize,
        format_string("semanticDedup: cell %s holds %s vectors > maxCellSize=" +
          s"$maxCellSize — degenerate quantizer; raise nCells or pass " +
          "trained centers", col("cell"), col("__csz"))).isNull)
      .drop("__csz"))
    val rawCos = VectorFunctions.cosine(col("__va"), col("__vb"))
    val pairs = guarded
      .select(col(idCol).as("id_a"), col(vecCol).as("__va"), col("cell"))
      .join(guarded.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
        col("cell")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(scoreDigits.fold(rawCos)(d => VectorFunctions.fastRound(rawCos, d)) >=
        threshold)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b",
        checkpointer = checkpointer)
      .withColumnRenamed("id", "__cid")
    // keeper = highest centroid cosine ("closest to centroid" — the
    // SemDeDup ablation found the keeper choice barely matters; this one is
    // deterministic and engine-replayable), ties on id: the cluster's top-1
    // under the rank tail's order
    val keeper = VectorFunctions.boundedTopK(col("__kc"), col(idCol), 1)
      .over(Window.partitionBy(col("cluster")))
    guarded
      .join(comps, col(idCol) === col("__cid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol).cast("long")))
      .withColumn("is_kept", col(idCol) <=> keeper.getItem(0).getField("id"))
      .select(col(idCol), col("cell"), col("cluster"), col("is_kept"))
  }

  /** Expose [[semanticDedup]]'s cell assignment with EXPLICIT centers:
    * `(idCol, vecCol, cell)`. The incremental path requires pinned centers —
    * assignment must be stable across batches, so the quantizer is trained
    * (or sampled) ONCE when the index is created and persisted with it;
    * re-training the quantizer means re-indexing, exactly like rewriting an
    * IVF layout ([[writeIvfIndex]]).
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centers: Array[Array[Float]]): DataFrame = {
    require(centers.nonEmpty, "assignCells needs at least one center")
    corpus.select(col(idCol), col(vecCol),
      array_min(cellScores(centers, vecCol)).getField("i").as("cell"))
  }

  /** Incremental SEMANTIC near-dup candidates — [[Dedup.incrementalCandidates]]
    * for the [[semanticDedup]] family: a new batch of cell-assigned
    * embeddings ([[assignCells]], pinned centers) pairs against the
    * persisted assignment index (batch-vs-index) and against itself
    * (batch-vs-batch), cosine-verified at `threshold`; batches never
    * re-score the historical corpus against itself. The write side is the
    * same idempotent-append discipline as the lexical index (append the
    * batch's assignments keyed on (id, cell) after deriving candidates).
    *
    * Scale shape: the index side is probed ONLY in cells the batch touches;
    * per-side flooded cells (> `maxCellSize`) are skipped so each drain
    * stays linear in the batch. When no cap binds, incremental candidates
    * over a split corpus reproduce the one-shot within-cell pair set
    * exactly (spec-pinned).
    */
  def incrementalSemanticCandidates(newAssigned: DataFrame,
                                    indexAssigned: DataFrame,
                                    idCol: String, vecCol: String,
                                    threshold: Double,
                                    scoreDigits: Option[Int] = Some(6),
                                    maxCellSize: Int = 1 << 20): DataFrame = {
    val batchCells = newAssigned.select("cell").distinct()
    def flooded(df: DataFrame): DataFrame =
      df.groupBy("cell").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxCellSize).select("cell")
    val idxTouched = indexAssigned.join(batchCells, Seq("cell"))
    val idx = idxTouched.join(flooded(idxTouched), Seq("cell"), "left_anti")
    val batch = newAssigned.join(flooded(newAssigned), Seq("cell"), "left_anti")
    val rawCos = VectorFunctions.cosine(col("__va"), col("__vb"))
    val cos = scoreDigits.fold(rawCos)(d => VectorFunctions.fastRound(rawCos, d))
    val vsIndex = idx
      .select(col(idCol).as("__ia"), col(vecCol).as("__va"), col("cell"))
      .join(batch.select(col(idCol).as("__ib"), col(vecCol).as("__vb"),
        col("cell")), Seq("cell"))
      .filter(col("__ia") =!= col("__ib"))
      .filter(cos >= threshold)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"))
    val vsBatch = batch
      .select(col(idCol).as("__ia"), col(vecCol).as("__va"), col("cell"))
      .join(batch.select(col(idCol).as("__ib"), col(vecCol).as("__vb"),
        col("cell")), Seq("cell"))
      .filter(col("__ia") < col("__ib"))
      .filter(cos >= threshold)
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"))
    vsIndex.unionByName(vsBatch).distinct()
  }

  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, nBits: Int = 0, nTables: Int = 4,
                   dim: Option[Int] = None): DataFrame = {
    val (d, bits) = dimAndBits(corpus, vecCol, nBits, targetPop = 8, dim)
    val b = corpus.select(col(idCol),
      posexplode(VectorFunctions.simhashBuckets(col(vecCol), nTables, bits,
        seed = 42, dim = d)).as(Seq("__table", "__bucket")))
    val pairs = b.select(col(idCol).as("id_a"), col("__table"), col("__bucket"))
      .join(b.select(col(idCol).as("id_b"), col("__table"), col("__bucket")),
        Seq("__table", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
