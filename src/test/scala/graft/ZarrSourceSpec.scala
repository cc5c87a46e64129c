package graft

import org.apache.spark.sql.functions._

import graft.sources.ZarrSource

class ZarrSourceSpec extends SparkSpec {

  private def tmpStore(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-zarr-$name").toString + "/store.zarr"

  test("zlib u16 round trip with gain/offset and an edge chunk") {
    // 10 samples × 3 channels, chunked 4 rows → chunks of 4/4/2 (edge)
    val data = Array.tabulate(10, 3)((r, c) => (r * 100 + c * 7).toDouble)
    val store = tmpStore("u16")
    ZarrSource.write(spark, store, data, dtype = "<u2", chunkRows = 4,
      compressor = Some("zlib"))

    // µV conversion exactly like flatBinaryU16: v * gain + offset
    val out = ZarrSource.read(spark, store, gain = 0.5, offset = -1.0)
      .orderBy("row_index").collect()
    assert(out.length == 10)
    out.zipWithIndex.foreach { case (row, r) =>
      assert(row.getLong(1) == r)
      val ch = row.getSeq[Double](2)
      assert(ch.length == 3)
      (0 until 3).foreach(c => assert(ch(c) == (r * 100 + c * 7) * 0.5 - 1.0))
    }
  }

  test("gzip f4 and uncompressed f8 stores read back exactly") {
    val data = Array.tabulate(7, 2)((r, c) => r + c / 4.0)
    val gz = tmpStore("f4")
    ZarrSource.write(spark, gz, data, dtype = "<f4", chunkRows = 3,
      compressor = Some("gzip"))
    val gzOut = ZarrSource.read(spark, gz).orderBy("row_index").collect()
    assert(gzOut.length == 7)
    assert(gzOut(6).getSeq[Double](2) == Seq(6.0, 6.25))

    val raw = tmpStore("f8")
    ZarrSource.write(spark, raw, data, dtype = "<f8", chunkRows = 7,
      compressor = None)
    val rawOut = ZarrSource.read(spark, raw).orderBy("row_index").collect()
    assert(rawOut.length == 7)
    assert(rawOut(3).getSeq[Double](2) == Seq(3.0, 3.25))
  }

  test("rowRange prunes chunk files before IO and slices exactly") {
    // 20 rows, 4-row chunks → 5 chunk files; rows 9..12 span chunks 2 and 3
    val data = Array.tabulate(20, 2)((r, c) => (r * 10 + c).toDouble)
    val store = tmpStore("range")
    ZarrSource.write(spark, store, data, dtype = "<f8", chunkRows = 4)

    // pruning is physical: corrupt every chunk file outside rows 9..12
    // (chunks 0, 1 and 4), so any read that opens one fails
    for (c <- Seq(0, 1, 4)) {
      java.nio.file.Files.write(java.nio.file.Paths.get(store, s"$c.0"),
        Array[Byte](1, 2, 3))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(store, s".$c.0.crc"))
    }
    val sliced = ZarrSource.read(spark, store, rowRange = Some((9L, 12L)))
    // exact slice values
    val rows = sliced.orderBy("row_index").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(9L, 10L, 11L, 12L))
    assert(rows.head.getSeq[Double](2) == Seq(90.0, 91.0))
    // a full read opens the corrupt chunks
    intercept[Exception] { ZarrSource.read(spark, store).collect() }
  }

  test("graft-zarr V2 source: filter pushdown prunes chunks, values match read()") {
    val data = Array.tabulate(20, 2)((r, c) => (r * 10 + c).toDouble)
    val store = tmpStore("v2")
    ZarrSource.write(spark, store, data, dtype = "<u2", chunkRows = 4)

    // maxPartitionBytes=1 pins one chunk per partition so the pruned
    // partition count is observable (default packing would merge them)
    val v2 = spark.read.format("graft-zarr")
      .option("gain", "0.5").option("offset", "-1.0")
      .option("maxPartitionBytes", "1").load(store)

    // declarative filter → chunk pruning, visible in the scan description
    val sliced = v2.filter(col("row_index").between(9, 12))
    val planStr = sliced.queryExecution.executedPlan.toString
    assert(planStr.contains("rowRange=[9,12]"),
      s"row filter should reach the scan:\n$planStr")
    assert(sliced.rdd.getNumPartitions == 2,
      "only chunks 2 and 3 overlap rows 9..12")
    // default packing: tiny chunks collapse into ONE scheduler task, and
    // pruning still binds before packing
    val packed = spark.read.format("graft-zarr").load(store)
    assert(packed.rdd.getNumPartitions == 1,
      "5 tiny chunks should pack into one byte-budgeted partition")
    assert(packed.filter(col("row_index").between(9, 12)).count() == 4)
    val rows = sliced.orderBy("row_index").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(9L, 10L, 11L, 12L))
    assert(rows.head.getSeq[Double](2) == Seq(90 * 0.5 - 1.0, 91 * 0.5 - 1.0))

    // full scan ≡ the rows written, scaled
    val viaV2 = v2.select("row_index", "channels").orderBy("row_index").collect()
    assert(viaV2.map(_.toSeq).toSeq == data.toSeq.zipWithIndex.map { case (row, r) =>
      Seq(r.toLong, row.toSeq.map(_ * 0.5 - 1.0)) })

    // column pruning: a count/extent query never decodes channels (and the
    // answer is still exact)
    assert(v2.select("row_index").count() == 20)
  }

  test("header validation: filters, channel-split layouts fail fast; blosclz decodes") {
    // plain blosc headers PARSE since round 10 (sources/Blosc.scala);
    // blosclz — the last loud-rejected inner codec — decodes since round
    // 12 (sources/BloscLz.scala), so its header parses too
    assert(ZarrSource.parseMeta(
      """{"zarr_format": 2, "shape": [4, 2], "chunks": [2, 2],
         "dtype": "<u2", "compressor": {"id": "blosc"}, "order": "C",
         "fill_value": 0, "filters": null}""").compressor.contains("blosc"))
    assert(ZarrSource.parseMeta(
      """{"zarr_format": 2, "shape": [4, 2], "chunks": [2, 2],
         "dtype": "<u2", "order": "C", "fill_value": 0, "filters": null,
         "compressor": {"id": "blosc", "cname": "blosclz"}}""")
      .compressor.contains("blosc"))

    // channel-split chunking: samples span files → rejected at read
    val store = tmpStore("split")
    val data = Array.tabulate(4, 2)((r, c) => (r + c).toDouble)
    ZarrSource.write(spark, store, data, dtype = "<f8", chunkRows = 2)
    // hand-edit the header to claim channel-split chunks
    val p = java.nio.file.Paths.get(store.stripPrefix("file:"), ".zarray")
    val doc = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replace(s""""chunks": [2, 2]""", s""""chunks": [2, 1]""")
    java.nio.file.Files.write(p, doc.getBytes("UTF-8"))
    // drop the Hadoop LocalFS checksum sidecar invalidated by the hand-edit
    java.nio.file.Files.deleteIfExists(p.resolveSibling("..zarray.crc"))
    val split = intercept[IllegalArgumentException] {
      ZarrSource.read(spark, store).collect()
    }
    assert(split.getMessage.contains("rechunk"))
  }

  test("graft-zarr answers count/min/max extent from the header, never touching chunks") {
    val store = tmpStore("agg")
    val data = Array.tabulate(130, 3)((r, c) => (r * 3 + c).toDouble)
    ZarrSource.write(spark, store, data, dtype = "<f8", chunkRows = 64)

    // corrupt EVERY chunk file: any read that opens one must now fail, so a
    // correct aggregate can only have come from the header
    val dir = java.nio.file.Paths.get(store.stripPrefix("file:"))
    java.nio.file.Files.list(dir).forEach { p =>
      if (!p.getFileName.toString.startsWith(".")) {
        java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
        java.nio.file.Files.deleteIfExists(
          p.resolveSibling("." + p.getFileName.toString + ".crc"))
      }
    }

    val df = spark.read.format("graft-zarr").load(store)
    val agg = df.agg(count(lit(1)).as("n"), min(col("row_index")).as("lo"),
      max(col("row_index")).as("hi"))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregates: [COUNT"),
      s"aggregate not pushed:\n${agg.queryExecution.executedPlan}")
    val row = agg.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((130L, 0L, 129L)))

    // sanity: actually reading the channels now fails on the corrupt chunks
    intercept[Exception] { df.select("channels").collect() }
  }

  test("writeDistributed emits a byte-identical store to the driver writer") {
    // 23 rows × 3 channels, 5-row chunks → 5 chunk files incl. an edge chunk
    val data = Array.tabulate(23, 3)((r, c) => (r * 13 + c * 5).toDouble)
    val driverStore = tmpStore("dist-driver")
    ZarrSource.write(spark, driverStore, data, dtype = "<u2", chunkRows = 5,
      compressor = Some("zlib"))

    val distStore = tmpStore("dist-dist")
    val df = spark.createDataFrame(
      data.zipWithIndex.map { case (row, r) => (r.toLong, row.toSeq) }.toSeq)
      .toDF("row_index", "channels")
      .repartition(7) // rows arrive shuffled across tasks
    ZarrSource.writeDistributed(df, distStore, chunkRows = 5, dtype = "<u2",
      compressor = Some("zlib"))

    def bytes(store: String, name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(store, name))
    (".zarray" +: (0 until 5).map(i => s"$i.0")).foreach { f =>
      assert(java.util.Arrays.equals(bytes(driverStore, f), bytes(distStore, f)),
        s"$f differs between driver and distributed writers")
    }
    // no temp debris left behind
    val names = new java.io.File(distStore).list().toSet
    assert(names == Set(".zarray") ++ (0 until 5).map(i => s"$i.0")
      ++ names.filter(_.endsWith(".crc")), s"unexpected files: $names")

    // and the store round-trips through read()
    val back = ZarrSource.read(spark, distStore).orderBy("row_index").collect()
    assert(back.length == 23)
    assert(back(22).getSeq[Double](2) == Seq(286.0, 291.0, 296.0))

    // REWRITING the same store exercises the rename-onto-existing-chunk
    // publish path (what a speculative/retried twin hits: dest already
    // holds the identical bytes) — and sweeps planted tmp debris from a
    // previously-killed task
    java.nio.file.Files.write(
      java.nio.file.Paths.get(distStore, ".chunk-9-dead.tmp"), Array[Byte](1))
    ZarrSource.writeDistributed(df, distStore, chunkRows = 5, dtype = "<u2",
      compressor = Some("zlib"))
    (".zarray" +: (0 until 5).map(i => s"$i.0")).foreach { f =>
      assert(java.util.Arrays.equals(bytes(driverStore, f), bytes(distStore, f)),
        s"$f differs after rewrite over the existing store")
    }
    assert(!new java.io.File(distStore, ".chunk-9-dead.tmp").exists(),
      "stale tmp debris swept on rewrite")
  }

  test("writeDistributed rejects gaps, duplicates, and ragged channel widths") {
    val store = tmpStore("dist-bad")
    val gap = spark.createDataFrame(
      Seq((0L, Seq(1.0)), (2L, Seq(2.0)))).toDF("row_index", "channels")
    val exGap = intercept[Exception] {
      ZarrSource.writeDistributed(gap, store, chunkRows = 4)
    }
    assert(exGap.getMessage.contains("dense"))

    // count/min/max alone can't see this one (4 rows spanning 0..3): the
    // in-task sequential check must catch the duplicate+gap pair
    val dup = spark.createDataFrame(
      Seq((0L, Seq(1.0)), (1L, Seq(2.0)), (1L, Seq(3.0)), (3L, Seq(4.0))))
      .toDF("row_index", "channels")
    val exDup = intercept[Exception] {
      ZarrSource.writeDistributed(dup, store, chunkRows = 4)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + messages(t.getCause)
    assert(messages(exDup).contains("gaps or duplicates"))

    val ragged = spark.createDataFrame(
      Seq((0L, Seq(1.0, 2.0)), (1L, Seq(3.0)))).toDF("row_index", "channels")
    val exRag = intercept[Exception] {
      ZarrSource.writeDistributed(ragged, store, chunkRows = 4)
    }
    assert(messages(exRag).contains("width"))

    // a null SAMPLE inside the channel array fails loudly — boxed access
    // would otherwise unbox it to 0.0 and publish it indistinguishable
    // from real data (and from the zarr fill value)
    val nullSample = spark.createDataFrame(
      Seq((0L, Seq[java.lang.Double](1.0, null)), (1L, Seq[java.lang.Double](2.0, 3.0))))
      .toDF("row_index", "channels")
    val exNull = intercept[Exception] {
      ZarrSource.writeDistributed(nullSample, store, chunkRows = 4)
    }
    assert(messages(exNull).contains("null sample"))
  }

  test("a truncated zlib chunk fails fast instead of spinning the inflater") {
    val data = Array.tabulate(8, 2)((r, c) => (r * 10 + c).toDouble)
    val store = tmpStore("trunc")
    ZarrSource.write(spark, store, data, dtype = "<f8", chunkRows = 8,
      compressor = Some("zlib"))

    // chop the single chunk file in half; drop the Hadoop .crc sidecar so
    // the checksum layer doesn't mask the inflate path we're testing
    val chunk = java.nio.file.Paths.get(store, "0.0")
    val whole = java.nio.file.Files.readAllBytes(chunk)
    java.nio.file.Files.write(chunk, whole.take(whole.length / 2))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(store, ".0.0.crc"))

    val ex = intercept[Exception] {
      ZarrSource.read(spark, store).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("inflated")),
      s"expected the zlib inflate failure, got: ${messages(ex).mkString(" | ")}")
  }

  test("resolveEphysPath prefers the processed .zarr twin when it exists") {
    val root = java.nio.file.Files.createTempDirectory("graft-ephys").toString
    val rawDir = java.nio.file.Paths.get(root, "raw", "subj1")
    java.nio.file.Files.createDirectories(rawDir)
    val rawBin = rawDir.resolve("amp_0.bin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(rawBin), Array[Byte](1, 2))

    // no twin yet: falls back to raw
    assert(ZarrSource.resolveEphysPath(spark, rawBin) == rawBin)

    // write the twin store at the processed mirror path
    val twin = java.nio.file.Paths.get(root, "processed", "subj1", "amp_0.zarr")
    java.nio.file.Files.createDirectories(twin.getParent)
    ZarrSource.write(spark, twin.toString,
      Array(Array(1.0, 2.0)), dtype = "<u2", chunkRows = 1)
    assert(ZarrSource.resolveEphysPath(spark, rawBin) == twin.toString)

    // ambiguous double-'raw' paths are rejected like the reference
    val bad = intercept[IllegalArgumentException] {
      ZarrSource.resolveEphysPath(spark, "/data/raw/x/raw/y.bin")
    }
    assert(bad.getMessage.contains("ambiguous"))
  }

  test("raw .bin and zarr twin of the same recording decode identically") {
    // the S10 contract: compressed twin ≡ raw flat binary, same µV scaling
    val nCh = 4
    val samples = Array.tabulate(50, nCh)((r, c) => ((r * 31 + c * 13) % 4096).toDouble)

    val dir = java.nio.file.Files.createTempDirectory("graft-twin").toString
    // raw .bin: little-endian u16, C order — flatBinaryU16's input format
    val buf = java.nio.ByteBuffer.allocate(50 * nCh * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(_.foreach(v => buf.putShort(v.toShort)))
    val binPath = java.nio.file.Paths.get(dir, "amp.bin")
    java.nio.file.Files.write(binPath, buf.array())

    val zarrPath = dir + "/amp.zarr"
    ZarrSource.write(spark, zarrPath, samples, dtype = "<u2", chunkRows = 16)

    val gain = 0.195; val offset = -6389.76
    val viaBin = graft.sources.BronzeIngest
      .flatBinaryU16(spark, binPath.toString, nCh, gain, offset)
      .select(col("row_index"), col("samples").as("channels"))
      .orderBy("row_index").collect()
    val viaZarr = ZarrSource.read(spark, zarrPath, gain, offset)
      .select(col("row_index"), col("channels"))
      .orderBy("row_index").collect()

    assert(viaBin.length == 50 && viaZarr.length == 50)
    viaBin.zip(viaZarr).foreach { case (b, z) =>
      assert(b.getLong(0) == z.getLong(0))
      val bc = b.getSeq[Double](1); val zc = z.getSeq[Double](1)
      bc.zip(zc).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("numcodecs raw zstd/lz4 codecs round-trip; absent chunks " +
    "materialize fill_value in both readers; null fill fails loudly") {
    val data = Array.tabulate(20, 2)((r, c) => (r * 10 + c).toDouble)
    for (comp <- Seq("zstd", "lz4")) {
      val store = tmpStore(s"nc-$comp")
      ZarrSource.write(spark, store, data, dtype = "<f8", chunkRows = 8,
        compressor = Some(comp))
      val back = ZarrSource.read(spark, store).orderBy("row_index").collect()
      assert(back.length == 20 &&
        back.zipWithIndex.forall { case (row, r) =>
          row.getSeq[Double](2) == data(r).toSeq }, comp)
    }

    // sparse store: drop chunk 1 (rows 8..15) -> fill_value (0) rows
    val sparse = tmpStore("sparse")
    ZarrSource.write(spark, sparse, data, dtype = "<f8", chunkRows = 8,
      compressor = Some("zstd"))
    for (f <- Seq("1.0", ".1.0.crc"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(sparse, f))
    val viaFn = ZarrSource.read(spark, sparse, gain = 2.0, offset = 5.0)
      .orderBy("row_index").collect()
    assert(viaFn.length == 20, "absent chunk must not drop rows")
    assert((8 until 16).forall(r => viaFn(r).getSeq[Double](2) == Seq(5.0, 5.0)),
      "absent-chunk rows carry fill*gain+offset")
    assert(viaFn(7).getSeq[Double](2) == Seq(2.0 * 70 + 5, 2.0 * 71 + 5))
    val viaV2 = spark.read.format("graft-zarr").option("gain", "2.0")
      .option("offset", "5.0").load(sparse)
      .orderBy("row_index").collect()
    assert(viaV2.map(_.getSeq[Double](2)).toSeq == data.toSeq.zipWithIndex.map {
      case (_, r) if r >= 8 && r < 16 => Seq(5.0, 5.0)
      case (row, _) => row.toSeq.map(_ * 2.0 + 5.0)
    }, "V2 reader fill parity")
    // count/extent still never open chunk files, sparse or not
    assert(spark.read.format("graft-zarr").load(sparse).count() == 20)

    // fill_value: null + an absent chunk = a loud error, not invented zeros
    val p = java.nio.file.Paths.get(sparse, ".zarray")
    val doc = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replace("\"fill_value\": 0", "\"fill_value\": null")
    java.nio.file.Files.write(p, doc.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(p.resolveSibling("..zarray.crc"))
    val e = intercept[org.apache.spark.SparkException] {
      ZarrSource.read(spark, sparse).collect()
    }
    assert(e.getMessage.contains("fill_value") ||
      Option(e.getCause).exists(_.getMessage.contains("fill_value")))
  }
}
