package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf0001).cache()

  test("bruteForceTopK returns k rows per query, ranked by cosine desc") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Similarity.bruteForceTopK(emb, queries, "vec_id", "query_id",
      "embedding", k = 5).cache()
    val counts = out.groupBy("query_id").count().select("count")
      .collect().map(_.getLong(0))
    assert(counts.length == 3 && counts.forall(_ == 5))
    // ranked: per query the cosines are non-increasing
    val rows = out.orderBy(col("query_id"), col("cosine").desc).collect()
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val cos = g.map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // self never among neighbors
    assert(out.filter(col("query_id") === col("vec_id")).count() == 0)
  }

  // Planted-structure corpus: 16 clusters x 30 members in 16 dims, members
  // tightly around their center (within-cluster cosine ~0.98, cross-cluster
  // ~0). Recall floors on THIS corpus are tight: a correct LSH finds nearly
  // all true neighbors here, so a floor of 0.75 has real teeth (the uniform
  // random corpus has barely any neighbor structure to recall, which is why
  // the old 0.3 floor proved nothing). Deterministic seed — the corpus is
  // identical every run.
  private lazy val planted: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 16; m <- 0 until 30) yield {
      val v = centers(c).map(x => x + 0.12f * rnd.nextGaussian().toFloat)
      (c * 100L + m, v)
    }
    rows.toDF("vec_id", "embedding").cache()
  }

  private def plantedQueries = planted
    .filter(col("vec_id").isin(0L, 500L, 1100L))
    .select(col("vec_id").as("query_id"), col("embedding"))

  test("lshTopK on planted clusters: recall >= 0.75 vs brute force") {
    val exact = Similarity.bruteForceTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10, nBits = 8, nTables = 8)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.75, s"LSH recall $recall below 0.75 — bucketing broken?")
  }

  test("randomProject equals a hand-rolled ±1 projection, exactly") {
    import spark.implicits._
    val vec = Array.tabulate(16)(i => (0.25f * (i - 7)) + 0.125f)
    val planes = VectorFunctions.hyperplanes(nBits = 8, dim = 16, seed = 11)
    val got = Seq(Tuple1(vec)).toDF("v")
      .select(VectorFunctions.randomProject(col("v"), 8, 16, seed = 11))
      .head.getSeq[Double](0)
    val want = planes.map(p =>
      (0 until 16).foldLeft(0.0)((acc, j) => acc + vec(j).toDouble * p(j)))
    assert(got.length == 8)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("projectedTopK: JL half-dims keeps recall on planted clusters") {
    val exact = Similarity.bruteForceTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val proj = Similarity.projectedTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10, projDim = 8, seed = 11)
    val projPairs = proj.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // JL distortion at 16→8 shuffles ranks among near-equal within-cluster
    // neighbors — direct recall@10 is only moderate (measured ~0.57); the
    // operator's contract is the PREFILTER pattern: a 3× candidate net must
    // catch nearly all true neighbors for the exact re-rank stage
    val recall10 = (exact & projPairs).size.toDouble / exact.size
    assert(recall10 >= 0.45, s"JL recall@10 $recall10 collapsed")
    val net = Similarity.projectedTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 30, projDim = 8, seed = 11)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefilter = (exact & net).size.toDouble / exact.size
    assert(prefilter >= 0.85,
      s"projected top-30 catches only $prefilter of the exact top-10")
    assert(proj.groupBy("query_id").count().select("count")
      .collect().forall(_.getLong(0) == 10))
    // deterministic across runs
    val again = Similarity.projectedTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10, projDim = 8, seed = 11)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == projPairs)
  }

  test("rerankTopK recovers exact ranks the raw projection shuffles") {
    val exact = Similarity.bruteForceTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10, scoreDigits = Some(6))
    val exactPairs = exact.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = Similarity.rerankTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10, projDim = 8, candidateFactor = 3,
        seed = 11, scoreDigits = Some(6))
    val rerankedPairs = reranked.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 3× net + exact re-rank must beat the raw projected recall by a
    // wide margin (prefilter catches it, exact cosine orders it)
    val recall = (exactPairs & rerankedPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.85, s"re-ranked recall $recall below 0.85")
    // a net that spans the whole corpus IS brute force, row for row
    val full = Similarity.rerankTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10, projDim = 8,
        candidateFactor = 48, seed = 11, scoreDigits = Some(6))
    assert(full.orderBy("query_id", "vec_id").collect().toSeq ==
      exact.orderBy("query_id", "vec_id").collect().toSeq)
  }

  test("SQ8: reconstruction within half a code step; top-k nearly exact") {
    // reconstruction error bound per dimension
    val (mins, maxs) = Similarity.sqTrain(planted, "embedding")
    val err = planted.select(
        VectorFunctions.cosine(col("embedding"), col("embedding")).as("one"),
        col("embedding"),
        Similarity.sqDecode(
          Similarity.sqEncode(col("embedding"), mins, maxs), mins, maxs)
          .as("dec"))
      .select(expr(
        """aggregate(zip_with(embedding, dec, (a, b) -> abs(a - b)),
           CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, x))""").as("maxerr"))
      .agg(max(col("maxerr"))).head.getDouble(0)
    val worstStep = mins.indices.map(i => (maxs(i) - mins(i)) / 255.0).max
    assert(err <= worstStep / 2 + 1e-9,
      s"reconstruction error $err exceeds half a code step $worstStep")
    // quantized ranking nearly matches exact top-10 on planted clusters
    val exact = Similarity.bruteForceTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sqTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sq).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall $recall below 0.9")
    // constant dimension: codes 0, decode == the constant
    import spark.implicits._
    val const = Seq((1L, Array(2.5f, 1.0f)), (2L, Array(2.5f, 3.0f)))
      .toDF("id", "v")
    val (m2, x2) = Similarity.sqTrain(const, "v")
    val dec = const.select(Similarity.sqDecode(
        Similarity.sqEncode(col("v"), m2, x2), m2, x2).as("d"))
      .collect().map(_.getSeq[Double](0))
    assert(dec.forall(d => math.abs(d.head - 2.5) < 1e-12))
  }

  test("PQ: codes bounded, sampled centers reconstruct exactly, neighbors stay in-cluster") {
    val books = Similarity.pqTrain(planted, "vec_id", "embedding",
      m = 4, k = 16)
    assert(books.length == 4 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 4)))
    val codes = planted.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c => c.length == 4 &&
      c.forall(x => x >= 0 && x < 16)))
    // a vector that IS a sampled codebook row reconstructs itself exactly
    // (distance-0 argmin per subspace)
    val centerIds = planted
      .orderBy(graft.functions.HashFunctions.portableHash60(
        col("vec_id").cast("string")), col("vec_id"))
      .limit(16).select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val selfErr = planted.filter(col("vec_id").isin(centerIds.toSeq: _*))
      .select(expr("embedding"),
        Similarity.pqDecode(
          Similarity.pqEncode(col("embedding"), books), books).as("dec"))
      .select(expr(
        """aggregate(zip_with(embedding, dec, (a, b) -> abs(a - b)),
           CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, x))""").as("e"))
      .agg(max(col("e"))).head.getDouble(0)
    assert(selfErr == 0.0, s"sampled centers must reconstruct exactly: $selfErr")
    // quantized neighbors stay in the query's own planted cluster
    val pq = Similarity.pqTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10, m = 4, nCodes = 16)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val inCluster = pq.count { case (q, v) => q / 100 == v / 100 }
    assert(inCluster >= 21,
      s"only $inCluster/30 PQ neighbors from the query's cluster")
  }

  test("lshTopK on the real corpus returns corpus subsets with sane scores") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Similarity.lshTopK(emb, queries, "vec_id", "query_id",
      "embedding", k = 10, nBits = 4, nTables = 8).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(2) >= -1.0 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9))
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("hyperplane family is non-degenerate; a constant-plane family fails the floor") {
    import graft.functions.VectorFunctions
    // Structural pin: within a table no two bit-planes coincide (the plane
    // analogue of the r4 MinHash single-seed degeneracy), and tables differ.
    val t0 = VectorFunctions.hyperplanes(nBits = 8, dim = 16, seed = 42)
    val t1 = VectorFunctions.hyperplanes(nBits = 8, dim = 16, seed = 43)
    assert(t0.map(_.toSeq).distinct.length == 8, "duplicate planes within a table")
    assert(t0.map(_.toSeq).toSet != t1.map(_.toSeq).toSet, "tables share their plane set")

    // Behavioral pin: 8 independent planes spread 480 clustered vectors over
    // many buckets (>= 32 of 256); a CONSTANT-plane signature (every bit the
    // same plane — the deliberate degeneracy) collapses to <= 2 buckets and
    // fails the same floor, so the floor has teeth.
    val realDistinct = planted
      .select(VectorFunctions.simhashBucket(col("embedding"), nBits = 8,
        seed = 42, dim = 16).as("b"))
      .agg(countDistinct(col("b"))).head().getLong(0)
    assert(realDistinct >= 32, s"only $realDistinct distinct buckets of 256")

    val plane0 = VectorFunctions.hyperplanes(nBits = 8, dim = 16, seed = 42)(0).toSeq
    val constantBucket = (0 until 8).map { i =>
      when(VectorFunctions.dot(col("embedding"), typedlit(plane0)) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val degenerateDistinct = planted.select(constantBucket.as("b"))
      .agg(countDistinct(col("b"))).head().getLong(0)
    assert(degenerateDistinct <= 2, "constant-plane control unexpectedly spread")
    assert(degenerateDistinct < 32, "degenerate family passed the floor — floor is toothless")
  }

  test("materialized IVF index: probe equals inline ivfTopK and prunes partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = java.nio.file.Files.createTempDirectory("ivf_index").toString + "/idx"
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))

    val cents = Similarity.writeIvfIndex(emb, path, "vec_id", "embedding",
      nCentroids = 16)
    val inline = Similarity.ivfTopK(emb, queries, "vec_id", "query_id",
        "embedding", k = 5, nCentroids = 16, nProbe = 2, centers = Some(cents))
      .orderBy("query_id", "vec_id").collect().toSeq
    val probed = Similarity.ivfProbe(spark, path, cents, queries,
      "vec_id", "query_id", "embedding", k = 5, nProbe = 2)
      .orderBy("query_id", "vec_id")
    val probedRows = probed.collect().toSeq // also populates the scan metrics
    assert(probedRows == inline)

    // pruning is PHYSICAL: the probe's scan reads only the probed cell
    // partitions (at most 3 queries x 2 probes = 6 of 16), not the index
    val allFiles = spark.read.parquet(path).inputFiles.length.toLong
    assert(allFiles >= 16, s"expected >=16 partition files, got $allFiles")
    // AQE hides materialized stages behind QueryStageExec/AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scanFiles(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case q: QueryStageExec => scanFiles(q.plan)
      case f: FileSourceScanExec => f.metrics("numFiles").value
      case other => other.children.map(scanFiles).sum
    }
    val probedFiles = scanFiles(probed.queryExecution.executedPlan)
    assert(probedFiles > 0 && probedFiles <= allFiles * 6 / 16,
      s"probe read $probedFiles of $allFiles files — pruning not physical?")
  }

  test("IVF x SQ8 index: full probe equals sqTopK; pruning + codes compose") {
    val path = java.nio.file.Files.createTempDirectory("ivfsq").toString + "/idx"
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val (cents, mins, maxs) = Similarity.writeIvfSqIndex(emb, path,
      "vec_id", "embedding", nCentroids = 16)
    // probing EVERY cell must equal the flat SQ8 scan, row for row (same
    // bounds, same codes, same asymmetric ranking)
    val full = Similarity.ivfSqProbe(spark, path, cents, mins, maxs, queries,
        "vec_id", "query_id", "embedding", k = 5, nProbe = 16,
        scoreDigits = Some(6))
      .withColumnRenamed("cosine", "c").orderBy("query_id", "vec_id")
      .collect().toSeq
    val flat = Similarity.sqTopK(emb, queries, "vec_id", "query_id",
        "embedding", k = 5, scoreDigits = Some(6))
      .withColumnRenamed("cosine_sq", "c").orderBy("query_id", "vec_id")
      .collect().toSeq
    assert(full == flat)
    // the stored vector column is CODES (ints), not floats
    val schema = spark.read.parquet(path).schema
    assert(schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false) ||
      schema("codes").dataType.simpleString.startsWith("array<int"),
      s"codes column should be int codes, got ${schema("codes").dataType}")
    // narrow probes still return k rows per query from probed cells only
    val narrow = Similarity.ivfSqProbe(spark, path, cents, mins, maxs,
      queries, "vec_id", "query_id", "embedding", k = 5, nProbe = 2)
    assert(narrow.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5))
  }

  test("IVF x PQ index: full probe equals pqTopK; pruning + codes compose") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val (cents, books) = Similarity.writeIvfPqIndex(emb, path,
      "vec_id", "embedding", nCentroids = 16, m = 8, nCodes = 16)
    // probing EVERY cell must equal the flat PQ scan, row for row (same
    // codebooks, same argmin codes, same asymmetric ranking)
    val full = Similarity.ivfPqProbe(spark, path, cents, books, queries,
        "vec_id", "query_id", "embedding", k = 5, nProbe = 16,
        scoreDigits = Some(6))
      .withColumnRenamed("cosine", "c").orderBy("query_id", "vec_id")
      .collect().toSeq
    val flat = Similarity.pqTopK(emb, queries, "vec_id", "query_id",
        "embedding", k = 5, m = 8, nCodes = 16, scoreDigits = Some(6))
      .withColumnRenamed("cosine_pq", "c").orderBy("query_id", "vec_id")
      .collect().toSeq
    assert(full == flat)
    // the stored vector column is m codebook ids, not dim floats
    val stored = spark.read.parquet(path)
    assert(stored.schema("codes").dataType.simpleString.startsWith("array<int"),
      s"codes column should be int codes, got ${stored.schema("codes").dataType}")
    assert(stored.select(expr("max(size(codes))")).head.getInt(0) == 8,
      "PQ index must store m=8 codes per vector")
    // narrow probes still return k rows per query from probed cells only
    val narrow = Similarity.ivfPqProbe(spark, path, cents, books,
      queries, "vec_id", "query_id", "embedding", k = 5, nProbe = 2)
    assert(narrow.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5))
  }

  test("residual IVFADC cuts reconstruction error vs plain IVFPQ at the same bytes") {
    def build(residual: Boolean) = {
      val path = java.nio.file.Files.createTempDirectory(
        s"ivfpq_res_$residual").toString + "/idx"
      val (cents, books) = Similarity.writeIvfPqIndex(planted, path,
        "vec_id", "embedding", nCentroids = 16, m = 4, nCodes = 16,
        residual = residual)
      (path, cents, books)
    }
    def avgReconErr(path: String, cents: Array[Array[Float]],
                    books: Array[Array[Array[Float]]],
                    residual: Boolean): Double =
      spark.read.parquet(path)
        .withColumnRenamed("cell", "__cell")
        .withColumn("dec",
          if (!residual) Similarity.pqDecode(col("codes"), books)
          else zip_with(
            element_at(typedlit(cents.map(_.map(_.toDouble).toSeq).toSeq),
              col("__cell") + 1),
            Similarity.pqDecode(col("codes"), books), (a, b) => a + b))
        .join(planted, Seq("vec_id"))
        .select(expr(
          """sqrt(aggregate(zip_with(embedding, dec, (a, b) -> (a-b)*(a-b)),
             CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))""").as("e"))
        .agg(avg("e")).head.getDouble(0)

    val (pPath, pCents, pBooks) = build(residual = false)
    val (rPath, rCents, rBooks) = build(residual = true)
    // residuals cluster near zero, so the same m x nCodes budget quantizes
    // finer — average L2 reconstruction error must drop strictly
    // (measured ~1.47 plain vs ~0.84 residual on the planted corpus)
    val (pErr, rErr) = (avgReconErr(pPath, pCents, pBooks, residual = false),
      avgReconErr(rPath, rCents, rBooks, residual = true))
    assert(rErr < pErr, s"residual err $rErr not below plain $pErr")
    // neighbor quality holds: every full-probe neighbor from the query's
    // own planted cluster, and narrow probes still fill k per query
    val full = Similarity.ivfPqProbe(spark, rPath, rCents, rBooks,
        plantedQueries, "vec_id", "query_id", "embedding", k = 10,
        nProbe = 16, scoreDigits = Some(6), residual = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(full.length == 30 &&
      full.count { case (q, v) => q / 100 == v / 100 } >= 27,
      "residual probe lost planted-cluster neighbors")
    val narrow = Similarity.ivfPqProbe(spark, rPath, rCents, rBooks,
      plantedQueries, "vec_id", "query_id", "embedding", k = 5,
      nProbe = 2, residual = true)
    assert(narrow.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5))
  }

  test("ivfTopK with nProbe == nCentroids equals exact brute force") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "query_id",
      "embedding", k = 10).collect().map(key).toSet
    val ivfAll = Similarity.ivfTopK(emb, queries, "vec_id", "query_id",
      "embedding", k = 10, nCentroids = 8, nProbe = 8).collect().map(key).toSet
    assert(ivfAll == exact)
  }

  test("ivfTopK probing few cells finds nearly all true neighbors on planted clusters") {
    // Probing 4 of 16 cells on the clustered corpus must keep >= 0.8 of the
    // true top-10: a query's cluster-mates land in the query's own nearest
    // cell, so missing them means assignment or probing is broken. (The old
    // 0.5 floor on the uniform corpus tolerated a half-broken quantizer.)
    val exact = Similarity.bruteForceTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(planted, plantedQueries, "vec_id", "query_id",
        "embedding", k = 10, nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall below 0.8")
  }

  test("rankBand slices exactly ranks lo..hi of the brute ranking") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val full = Similarity.bruteForceTopK(emb, queries, "vec_id", "query_id",
        "embedding", k = 30, scoreDigits = Some(6))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, c) => (-c, id) }).toMap
    val band = Similarity.rankBand(emb, queries, "vec_id", "query_id",
        "embedding", loRank = 11, hiRank = 20, scoreDigits = Some(6))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(2))
        .map(r => (r.getLong(1), r.getDouble(3)))).toMap
    full.foreach { case (q, ranked) =>
      assert(band(q).toSeq == ranked.slice(10, 20).toSeq, s"query $q")
    }
    // ranks run 11..20, ten per query
    assert(band.values.forall(_.size == 10))
  }

  test("kmeansStep matches brute-force assignment + micro sums; counts partition the corpus") {
    val data = planted.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // pinned centers so the reference shares them exactly
    val cents = data.sortBy(_._1).take(5).map(_._2)
    val got = Similarity.kmeansStep(planted, "vec_id", "embedding",
        centers = Some(cents))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toVector)))
      .toMap
    // brute: argmin of ||c||^2 - 2 v.c with (score, index) ties, then
    // per-dim floor(1e6*x) sums
    val brute = data.groupBy { case (_, v) =>
      cents.indices.map { i =>
        val c = cents(i)
        val n2 = c.map(x => x.toDouble * x).sum
        val dot = c.indices.map(j => v(j).toDouble * c(j).toDouble).sum
        (n2 - 2.0 * dot, i)
      }.min._2
    }.map { case (cell, members) =>
      cell.toLong -> ((members.size.toLong,
        members.map(_._2.map(x => math.floor(1e6 * x.toDouble).toLong))
          .reduce((a, b) => a.zip(b).map(t => t._1 + t._2)).toVector))
    }
    assert(got == brute)
    assert(got.values.map(_._1).sum == data.length.toLong)
    // one Lloyd round on the planted corpus shrinks total quantization
    // error (monotonicity of the k-means objective under exact updates)
    def sse(cs: Array[Array[Float]]): Double = data.map { case (_, v) =>
      cs.map { c =>
        v.indices.map(j => (v(j).toDouble - c(j)) *
          (v(j).toDouble - c(j))).sum
      }.min
    }.sum
    val refined = got.toSeq.sortBy(_._1).map { case (_, (n, sums)) =>
      sums.map(s => (s.toDouble / (1e6 * n.toDouble)).toFloat).toArray
    }.toArray
    assert(sse(refined) < sse(cents))
  }

  test("clusterQuality matches the brute per-cell inertia and margin exactly") {
    val data = planted.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = data.sortBy(_._1).take(5).map(_._2)
    val got = Similarity.clusterQuality(planted, "vec_id", "embedding",
        centers = Some(cents))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // brute: quantizer scores (||c||² − 2 v·c, index ties), best + runner-up;
    // inertia restores ||x−c||² as x·x + s; per-point floor before sums
    val brute = data.map { case (_, v) =>
      val scores = cents.indices.map { i =>
        val c = cents(i)
        val n2 = c.map(x => x.toDouble * x).sum
        val dot = c.indices.map(j => v(j).toDouble * c(j).toDouble).sum
        (n2 - 2.0 * dot, i)
      }.sorted
      val xx = v.map(x => x.toDouble * x).sum
      (scores(0)._2.toLong,
        math.floor(1e6 * (xx + scores(0)._1)).toLong,
        math.floor(1e6 * (scores(1)._1 - scores(0)._1)).toLong)
    }.groupBy(_._1).map { case (cell, ms) =>
      cell -> ((ms.size.toLong, ms.map(_._2).sum, ms.map(_._3).sum))
    }
    assert(got == brute)
    // every margin is non-negative (runner-up can't beat the winner), and
    // the planted tight clusters make the per-point margin dwarf the
    // per-point inertia on this corpus
    assert(got.values.forall(_._3 >= 0L))
  }

  test("KMeans-trained centers beat hash-sampled centers on quantization and recall@10") {
    val trained = Similarity.trainCenters(planted, "embedding", nCentroids = 16)
    assert(trained.length == 16 && trained.head.length == 16)

    // the hash-sampled fallback, reproduced by its documented construction
    val sampled = planted.select(col("vec_id"), col("embedding"))
      .orderBy(graft.functions.HashFunctions.portableHash60(
        col("vec_id").cast("string")), col("vec_id"))
      .limit(16).collect().map(_.getSeq[Float](1).toArray)

    // Lloyd refinement must strictly cut quantization error (the KMeans
    // objective) vs a raw corpus sample — deterministic on the seeded corpus
    val vecs = planted.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def cost(cents: Array[Array[Float]]): Double = vecs.map { v =>
      cents.map(c => c.zip(v).map { case (a, b) => (a - b).toDouble * (a - b) }.sum).min
    }.sum / vecs.length
    assert(cost(trained) < cost(sampled),
      s"trained cost ${cost(trained)} not below sampled ${cost(sampled)}")

    val exact = Similarity.bruteForceTopK(planted, plantedQueries, "vec_id",
        "query_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(cents: Array[Array[Float]]): Double = {
      val got = Similarity.ivfTopK(planted, plantedQueries, "vec_id", "query_id",
          "embedding", k = 10, nCentroids = 16, nProbe = 2, centers = Some(cents))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val (rT, rS) = (recall(trained), recall(sampled))
    assert(rT >= 0.9, s"trained-center recall $rT below 0.9")
    assert(rT >= rS, s"trained recall $rT below sampled recall $rS")
  }

  test("KMeans-trained PQ codebooks beat hash-sampled on reconstruction and neighbor quality") {
    val (m, nCodes) = (4, 16)
    val trained = Similarity.trainPqCodebooks(planted, "embedding", m, nCodes)
    assert(trained.length == m && trained.forall(_.length == nCodes) &&
      trained.forall(_.forall(_.length == 16 / m)))
    val sampled = Similarity.pqTrain(planted, "vec_id", "embedding", m, nCodes)

    // Lloyd-refined sub-codebooks must strictly cut PQ reconstruction error
    // (the sum of the per-subspace KMeans objectives) vs raw corpus samples
    val vecs = planted.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    def cost(books: Array[Array[Array[Float]]]): Double = {
      val sub = 16 / m
      vecs.map { v =>
        (0 until m).map { mi =>
          val s = v.slice(mi * sub, (mi + 1) * sub)
          books(mi).map(c =>
            c.zip(s).map { case (a, b) => (a - b).toDouble * (a - b) }.sum).min
        }.sum
      }.sum / vecs.length
    }
    assert(cost(trained) < cost(sampled),
      s"trained cost ${cost(trained)} not below sampled ${cost(sampled)}")

    // Behavioral floor: ADC over trained books must keep every neighbor in
    // the query's own planted cluster (within-cluster reconstructions
    // collapse toward the centroid, so exact-rank recall is the wrong
    // metric here — id tie-breaks among collapsed members are arbitrary;
    // what quantization quality controls is whether CROSS-cluster
    // candidates can outscore the true cluster).
    def inCluster(books: Array[Array[Array[Float]]]): Double = {
      val got = Similarity.pqTopK(planted, plantedQueries, "vec_id",
          "query_id", "embedding", k = 10, m = m, nCodes = nCodes,
          codebooks = Some(books))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      got.count { case (q, v) => q / 100 == v / 100 }.toDouble / got.length
    }
    val (rT, rS) = (inCluster(trained), inCluster(sampled))
    assert(rT >= 0.9, s"trained-codebook in-cluster rate $rT below 0.9")
    assert(rT >= rS, s"trained rate $rT below sampled rate $rS")
  }

  test("caller-supplied dim skips the plan-time discovery job") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settledJobs(): Int = { // listener bus is async — let it drain
      var prev = -1
      var cur = jobs.get()
      while (prev != cur) { Thread.sleep(200); prev = cur; cur = jobs.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    val (withDim, withoutDim) = try {
      // PLAN CONSTRUCTION with dim supplied runs no job at all
      val planned = Similarity.projectedTopK(emb, queries, "vec_id",
        "query_id", "embedding", k = 5, projDim = 8, dim = Some(64))
      assert(settledJobs() == 0,
        s"dim=Some still launched ${jobs.get()} plan-time jobs")
      // ... while the default pays the single-row discovery lookup
      jobs.set(0)
      val discovered = Similarity.projectedTopK(emb, queries, "vec_id",
        "query_id", "embedding", k = 5, projDim = 8)
      assert(settledJobs() >= 1, "expected a plan-time dim-discovery job")
      (planned, discovered)
    } finally spark.sparkContext.removeSparkListener(listener)
    // identical results either way
    assert(withDim.orderBy("query_id", "vec_id").collect().toSeq ==
      withoutDim.orderBy("query_id", "vec_id").collect().toSeq)
  }

  test("nearDupPairs finds planted identical vectors and orders ids") {
    import spark.implicits._
    val planted = Seq(
      (1000L, Array.fill(8)(0.5f)),
      (1001L, Array.fill(8)(0.5f)),            // exact dup of 1000
      (1002L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(planted, "vec_id", "embedding",
      threshold = 0.99, nBits = 4, nTables = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1000L, 1001L)))
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("semanticDedup drops planted twins, keeps originals, partitions ids") {
    val twins = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(twins)
    val n = corpus.count()
    val out = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      threshold = 0.999, nCells = 8).cache()
    // every corpus id appears exactly once (cells partition, no dup rows)
    assert(out.count() == n)
    assert(out.select("vec_id").distinct().count() == n)
    // dropped docs are exactly the planted twins (tie on identical centroid
    // cosine breaks to the lower id — the original)
    val dropped = out.filter(!col("is_kept")).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    assert(dropped.toSeq == (0L until 10L).map(_ + 100000L))
    // each twin shares its original's cluster, labeled by the original
    val twinClusters = out.filter(col("vec_id") >= 100000L)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(twinClusters.forall { case (id, cl) => cl == id - 100000L })
  }

  test("semanticDedup keeper is the member closest to its centroid, not the lowest id") {
    import spark.implicits._
    // explicit centers make the assignment deterministic: both near-dups
    // land in cell 0; id 2 is CLOSER to the centroid (higher cosine) than
    // the lower id 1, so the keeper rule must pick 2
    val docs = Seq(
      (1L, Array(1.0f, 0.10f)), // cos to (1,0) ≈ 0.99504
      (2L, Array(1.0f, 0.05f)), // cos to (1,0) ≈ 0.99875 — the keeper
      (9L, Array(-1.0f, 0.0f))) // other cell, singleton
      .toDF("id", "vec")
    val centers = Some(Array(Array(1.0f, 0.0f), Array(-1.0f, 0.0f)))
    val out = Similarity.semanticDedup(docs, "id", "vec",
      threshold = 0.99, nCells = 2, centers = centers)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    // cosine(d1, d2) ≈ 0.99877 ≥ 0.99 → one cluster {1, 2}, labeled 1
    assert(out.toSeq == Seq((1L, 0, 1L, false), (2L, 0, 1L, true),
      (9L, 1, 9L, true)))
  }

  test("semanticDedup with trained centers collapses planted clusters, never merges across them") {
    // 16 planted clusters of 30 near-identical members; trained centers put
    // each cluster in its own cell, so within-cluster pairs (cosine ≳ 0.97)
    // group and collapse while cross-cluster pairs (far below 0.9) never
    // appear. Threshold 0.9 sits in the structural gap.
    val cents = Similarity.trainCenters(planted, "embedding", nCentroids = 16)
    val out = Similarity.semanticDedup(planted, "vec_id", "embedding",
      threshold = 0.9, nCells = 16, centers = Some(cents)).cache()
    assert(out.count() == 480)
    // groups never span two true clusters (vec_id / 100 is the true label)
    val spanning = out.groupBy("cluster")
      .agg(countDistinct(floor(col("vec_id") / 100)).as("trueClusters"))
      .filter(col("trueClusters") > 1).count()
    assert(spanning == 0, "a dup group merged across planted clusters")
    // each true cluster collapses to far fewer representatives than members
    val keptPerCluster = out.filter(col("is_kept"))
      .groupBy(floor(col("vec_id") / 100).as("true_c")).count()
      .collect().map(r => r.getLong(1))
    assert(keptPerCluster.length == 16, "every planted cluster keeps a doc")
    assert(keptPerCluster.forall(k => k >= 1 && k <= 3),
      s"expected 1-3 keepers per 30-member cluster, got ${keptPerCluster.toSeq}")
  }

  test("incremental semantic candidates over split batches equal the one-shot pair set") {
    // odd offset: an even original's twin is odd, so every planted pair
    // STRADDLES the even/odd batch split below — the batch-vs-index path
    // must find them, not just the within-batch path
    val twins = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100001L).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(twins).cache()
    val cents = Similarity.trainCenters(corpus, "embedding", nCentroids = 8)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // one-shot = the whole corpus as one batch against an empty index
    val assigned = Similarity.assignCells(corpus, "vec_id", "embedding", cents)
    val oneShot = pairsOf(Similarity.incrementalSemanticCandidates(
      assigned, assigned.limit(0), "vec_id", "embedding", threshold = 0.999))
    assert(oneShot.nonEmpty, "planted twins must pair")

    // split drains: batch1 vs nothing, then batch2 vs batch1's index
    val b1 = Similarity.assignCells(corpus.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", cents)
    val b2 = Similarity.assignCells(corpus.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", cents)
    val drained =
      pairsOf(Similarity.incrementalSemanticCandidates(b1, b1.limit(0),
        "vec_id", "embedding", threshold = 0.999)) ++
      pairsOf(Similarity.incrementalSemanticCandidates(b2, b1,
        "vec_id", "embedding", threshold = 0.999))
    assert(drained == oneShot,
      s"split drains diverge: only-one-shot=${oneShot -- drained} " +
        s"only-drained=${drained -- oneShot}")
  }

  test("semanticDedup fails fast in-plan when a cell floods past maxCellSize") {
    val corpus = emb.select("vec_id", "embedding")
    // one center = every vector in one cell; cap far below the corpus size
    val one = Some(Array(Array.fill(64)(0.1f)))
    val ex = intercept[Exception] {
      Similarity.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.999, nCells = 1, centers = one, maxCellSize = 5)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("maxCellSize")))
  }

  // ---- the all-pairs spread rule (Similarity.rankedPairs) ----

  /** Run `body` under a SparkListener and return every stage it completed
    * as (numTasks, shuffle records written), once the asynchronous
    * listener bus has settled, plus the number of jobs it started. */
  private def stagesOf(body: => Unit): (Seq[(Int, Long)], Int) = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        stages.add((info.numTasks,
          info.taskMetrics.shuffleWriteMetrics.recordsWritten)); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var prev = -1
      var cur = jobs.get() + stages.size
      while (prev != cur) {
        Thread.sleep(200); prev = cur; cur = jobs.get() + stages.size
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    (stages.toArray(Array.empty[(Int, Long)]).toSeq, jobs.get())
  }

  test("all-pairs kernels score a one-split corpus on more than one task") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("graft-onesplit").toString
    Seq.tabulate(1500)(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    // one file, one row group: the scan is a single split
    assert(corpus.rdd.getNumPartitions == 1)
    val queries = corpus.select(col("vec_id").as("query_id"), col("embedding"))
    val kernels = Seq(
      "bruteForceTopK" -> (() => Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "query_id", "embedding", k = 5, scoreDigits = Some(6))),
      "rankBand" -> (() => Similarity.rankBand(corpus, queries, "vec_id",
        "query_id", "embedding", loRank = 2, hiRank = 5, scoreDigits = Some(6))))
    kernels.foreach { case (name, kernel) =>
      val (stages, _) = stagesOf(kernel().collect())
      // the scoring stage writes the partial top-k: one row per (query,
      // scoring task), more than any other stage writes (the spread's own
      // exchange moves each of the 1500 corpus rows once)
      val (tasks, written) = stages.maxBy(_._2)
      assert(tasks >= 2 && written >= 1500L * tasks, s"$name: stages $stages")
      assert(tasks >= 2, s"$name scored on $tasks task(s): stages $stages")
    }
  }

  test("building an all-pairs kernel over a shuffled corpus runs no job") {
    val shuffled = emb.repartition(3, col("vec_id"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // PQ codebooks come in from outside, so building runs no training job
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 4,
      dim = Some(64))
    var built = Seq.empty[org.apache.spark.sql.DataFrame]
    val (_, jobs) = stagesOf {
      built = Seq(
        Similarity.bruteForceTopK(shuffled, queries, "vec_id", "query_id",
          "embedding", k = 5, scoreDigits = Some(6)),
        Similarity.rankBand(shuffled, queries, "vec_id", "query_id",
          "embedding", loRank = 2, hiRank = 4),
        Similarity.projectedTopK(shuffled, queries, "vec_id", "query_id",
          "embedding", k = 5, projDim = 8, dim = Some(64)),
        Similarity.rerankTopK(shuffled, queries, "vec_id", "query_id",
          "embedding", k = 5, projDim = 8, dim = Some(64)),
        Similarity.pqTopK(shuffled, queries, "vec_id", "query_id",
          "embedding", k = 5, m = 8, nCodes = 4, codebooks = Some(books)))
    }
    assert(jobs == 0, s"building the kernels launched $jobs job(s)")
    // sqTopK trains its bounds while building: it may run those jobs only
    val (_, trainJobs) = stagesOf(Similarity.sqTrain(shuffled, "embedding"))
    val (_, sqJobs) = stagesOf {
      built :+= Similarity.sqTopK(shuffled, queries, "vec_id", "query_id",
        "embedding", k = 5)
    }
    assert(sqJobs == trainJobs,
      s"building sqTopK launched $sqJobs job(s), its training $trainJobs")
    // each carries the round-robin spread at the default parallelism
    val parallelism = spark.sparkContext.defaultParallelism
    built.foreach { df =>
      val spreads = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
            if r.shuffle => r.numPartitions
      }
      assert(spreads.contains(parallelism), df.queryExecution.optimizedPlan)
    }
  }
}
