package graft.queries

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkSpec}

class OpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("minhash LSH recovers planted near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn breaks over the hill"
    val nearDup = base.replace("dawn", "dusk") // one token differs
    val other = "completely different words about spark shuffles and partitions and codegen stages at scale"
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")

    val sh = docs.select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
    val hs = sh.select(col("doc_id"), TextOps.shingleHashes(col("sh")).as("hs"))
    val sig = hs.withColumn("bands", TextOps.bandHashes(TextOps.minhashSignature(col("hs"), 32), 16, 2))
    val banded = sig.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bhash")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), s"planted pair missing from LSH candidates: $cand")
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)), s"unrelated docs bucketed: $cand")
  }

  test("simhash: near-dup texts land within small hamming distance") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val near = base.replace("kappa", "sigma")
    val far = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.simhash64(split(col("text"), " ")).as("h"))
    val h = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)),
      s"near pair ${hamming(h(1L), h(2L))} !< far pair ${hamming(h(1L), h(3L))}")
    assert(hamming(h(1L), h(2L)) <= 16)
  }

  test("cosine expression is exact on hand-computed vectors") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)), (Array(1.0f, 1.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
      .select(VectorOps.cosine(VectorOps.asDouble(col("a")), VectorOps.asDouble(col("b"))).as("c"))
    val out = df.collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 0.0) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
  }

  test("LSH ANN recall vs brute force is usable (>= 0.2 on random data)") {
    // Random hyperplane LSH with 8 planes on 64-dim random vectors: each
    // bucket holds ~1/256 of the corpus; hits that survive share the
    // query's bucket. Recall against exact top-10 must be well above the
    // random-baseline ~4%.
    val brute = VectorOps.bruteTopK(spark, sfDir)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshTopK(spark, sfDir)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.2, s"LSH recall $recall too low")
    // The driver-facing gate query reports the same contract as a boolean.
    val gate = VectorOps.defs("ann_lsh_topk").run(spark, sfDir).collect()(0)
    assert(gate.getAs[Boolean]("recall_ok"))
    assert(gate.getAs[Long]("n_exact") == brute.size.toLong)
  }

  test("native kernels match HOF formulations bit-for-bit") {
    import spark.implicits._
    val e = graft.Tables(spark, sfDir, "embeddings").limit(50)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
    val hofCos = VectorOps.dot(col("v"), col("v")) / (VectorOps.norm(col("v")) * VectorOps.norm(col("v")))
    val diffs = e.select((graft.functions.GraftFunctions.cosineSim(col("v"), col("v")) - hofCos).as("d"))
      .collect().map(_.getDouble(0))
    assert(diffs.forall(_ == 0.0))

    val docs = graft.Tables(spark, sfDir, "documents").limit(50)
      .select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
    val a = docs.select(col("doc_id").as("ida"), col("sh").as("sa"))
    val b = docs.select(col("doc_id").as("idb"), col("sh").as("sb"))
    val pairs = a.join(b, col("ida") < col("idb")).limit(200)
    val hofJac = size(array_intersect(col("sa"), col("sb"))).cast("double") /
      size(array_union(col("sa"), col("sb"))).cast("double")
    val jd = pairs.select((graft.functions.GraftFunctions.jaccardSim(col("sa"), col("sb")) - hofJac).as("d"))
      .collect().map(_.getDouble(0))
    assert(jd.forall(_ == 0.0))
  }

  test("native kernels stay codegen'd") {
    // Non-foldable input: prove the kernel runs inside a whole-stage
    // codegen'd project (the "*(n)" prefix), not interpreted fallback.
    val e = graft.Tables(spark, sfDir, "embeddings")
      .select(VectorOps.asDouble(col("embedding")).as("v"))
    val plan = e.select(graft.functions.GraftFunctions.cosineSim(col("v"), col("v")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
  }

  test("IVF ANN probes only nprobe cells and keeps a recall floor") {
    val brute = VectorOps.bruteTopK(spark, sfDir)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = IvfOps.ivfTopK(spark, sfDir)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 queries x top-10 from probed cells
    assert(ivf.groupBy(_._1).forall(_._2.size == 10))
    val recall = (brute & ivf).size.toDouble / brute.size
    // nprobe/cells = 2/16 of the corpus; on random data recall above the
    // 12.5% random floor shows probing follows the quantizer.
    assert(recall >= 0.1, s"IVF recall $recall below floor")
    // The driver-facing gate query reports the same contracts as booleans.
    val gate = IvfOps.defs("ann_ivf_topk").run(spark, sfDir).collect()(0)
    assert(gate.getAs[Boolean]("k_ok") && gate.getAs[Boolean]("recall_ok"))
  }

  test("directory catalog navigation lists projects/datasets/tables") {
    import graft.sources.DirectoryCatalog
    val root = java.nio.file.Files.createTempDirectory("nav")
    java.nio.file.Files.createDirectories(root.resolve("p1/d1"))
    java.nio.file.Files.createDirectories(root.resolve("p2/d2"))
    java.nio.file.Files.writeString(root.resolve("p1/d1/t1.sql"), "SELECT 1")
    java.nio.file.Files.writeString(root.resolve("p2/d2/t2.sql"), "SELECT 2")
    assert(DirectoryCatalog.listProjects(root.toString) == Seq("p1", "p2"))
    assert(DirectoryCatalog.listDatasets(root.toString, "p1") == Seq("d1"))
    assert(DirectoryCatalog.listTablesIn(root.toString, "p2", "d2") == Seq("t2"))
  }

  test("multimodal features run the REAL PNG codec and match byte sums") {
    // PNG round-trip identity first: 8-bit gray is lossless, so the
    // decoded raster must reproduce the input bytes exactly.
    val data = Array.tabulate(77)(i => (i * 37 % 256).toByte)
    val png = Multimodal.pngBytes(data, width = 32)
    assert(png.take(8).map(_ & 0xff).sameElements(
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)), "not a real PNG signature")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 32 && img.getHeight == 3)
    data.zipWithIndex.foreach { case (b, i) =>
      assert(img.getRaster.getSample(i % 32, i / 32, 0) == (b & 0xff), s"pixel $i lossy")
    }
    // Distributed path: features decoded from the PNG equal residue sums
    // of the original text bytes (padding pixels are zero).
    val out = Multimodal.features(spark, sfDir).limit(1).collect()(0)
    val docId = out.getLong(0)
    val text = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") === docId).select("text").collect()(0).getString(0)
    val bytes = text.getBytes("UTF-8")
    assert(out.getString(2) == "png")
    assert(out.getInt(3) == 32 && out.getInt(4) == math.max(1, (bytes.length + 31) / 32))
    val expected = new Array[Long](8)
    bytes.zipWithIndex.foreach { case (b, i) => expected(i % 8) += b & 0xff }
    (0 until 8).foreach(i => assert(out.getLong(5 + i) == expected(i)))
  }

  test("multimodal frame sampling windows the REAL parsed PCM region") {
    val r = Multimodal.frames(spark, sfDir, 4).limit(1).collect()(0)
    val lens = r.getSeq[Long](3)
    assert(r.getLong(2) == 4L && lens.length == 4)
    val text = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") === r.getLong(0)).select("text").collect()(0).getString(0)
    val pcm = text.getBytes("UTF-8")
    assert(lens.sum == pcm.length.toLong)
    // thumbnail bytes come from the data-chunk offset the walker parsed,
    // so they are actual PCM samples (= text bytes), not header bytes
    val thumb = r.getAs[Array[Byte]](4)
    assert(thumb.length <= 64)
    val step = math.max(1, pcm.length / 64)
    thumb.zipWithIndex.foreach { case (b, i) => assert(b == pcm(i * step), s"thumb byte $i") }
  }

  test("image header decode on real PNG/JPEG bytes via the distributed path") {
    import spark.implicits._
    // Real codec fixtures: rendered images encoded by the JDK's own
    // PNG and JPEG writers — not hand-built headers.
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK cannot encode $fmt")
      out.toByteArray
    }
    val rows = Seq(
      (1L, "image/png", imageBytes(37, 21, "png")),
      (2L, "image/jpeg", imageBytes(64, 48, "jpg")),
      (3L, "image/png", "not an image at all".getBytes("UTF-8")))
    val out = Multimodal.imageMeta(spark, rows.toDF("doc_id", "mime", "payload"))
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out(1L) == (("png", 37, 21)))
    assert(out(2L)._1.startsWith("jp") && out(2L)._2 == 64 && out(2L)._3 == 48)
    assert(out(3L) == (("unknown", -1, -1))) // poisoned record degrades, not throws
  }

  test("wav writer/parser round-trip and chunk-walking robustness") {
    val pcm = Array.tabulate(320)(i => (i % 251).toByte)
    // canonical layout from our own writer
    val m = Multimodal.decodeWav(7L, Multimodal.wavBytes(pcm, sampleRate = 8000))
    assert(m == Multimodal.AudioMeta(7L, "wav", 1, 8000, 8, 320L, 40L))
    // 16-bit stereo: n_samples counts frames (bytes / blockAlign)
    val st = Multimodal.decodeWav(8L,
      Multimodal.wavBytes(new Array[Byte](400), sampleRate = 100, channels = 2, bitsPerSample = 16))
    assert(st.channels == 2 && st.bits_per_sample == 16 && st.n_samples == 100L)
    assert(st.duration_ms == 1000L)
    // a LIST chunk (odd-sized, so word alignment matters) before fmt/data
    // must be skipped, as real-world WAV files carry INFO metadata
    val canonical = Multimodal.wavBytes(pcm, sampleRate = 8000)
    val list = java.nio.ByteBuffer.allocate(8 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("LIST".getBytes("US-ASCII")).putInt(5).put(Array[Byte](1, 2, 3, 4, 5, 0))
      .array()
    val withList = canonical.take(12) ++ list ++ canonical.drop(12)
    assert(Multimodal.decodeWav(9L, withList).n_samples == 320L)
    // odd-length final data chunk without its pad byte (common in the
    // wild, and what our writer emits) must not run past the buffer
    val odd = Multimodal.decodeWav(10L, Multimodal.wavBytes(new Array[Byte](321)))
    assert(odd.format == "wav" && odd.n_samples == 321L)
    // malformed payloads degrade instead of throwing
    assert(Multimodal.decodeWav(1L, Array[Byte](1, 2, 3)).format == "unknown")
    assert(Multimodal.decodeWav(2L, "RIFFxxxxNOPE".getBytes("US-ASCII")).format == "unknown")
    val truncated = canonical.take(30) // fmt chunk cut short
    assert(Multimodal.decodeWav(3L, truncated).format == "unknown")
  }

  test("lloyd training improves the quantizer and PQ clears its recall gate") {
    import graft.queries.VectorOps.asDouble
    val e = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v")).cache()
    val seeds = e.filter(col("vec_id") % lit(29) === 0)
      .sort("vec_id").limit(16).select("v").collect().map(_.getSeq[Double](0)).toSeq
    val sample = e.filter(col("vec_id") % lit(5) === 0)
    val obj0 = IvfOps.quantizerObjective(sample, seeds)
    val obj2 = IvfOps.quantizerObjective(sample, IvfOps.trainCodebook(sample, seeds, 2))
    // mean-recentered cosine Lloyd is not provably monotone per step,
    // but two iterations must materially improve on raw seeds
    assert(obj2 > obj0, s"training regressed the quantizer: $obj0 -> $obj2")
    val r = graft.SparkEntry.queries("ann_pq_topk")(spark, sfDir).collect()(0)
    assert(r.getBoolean(1), "PQ structure (k per query) broken")
    assert(r.getBoolean(2), "PQ ADC recall below floor")
  }

  test("ANN training sample size is absolute: constant as the corpus grows") {
    import graft.queries.VectorOps.asDouble
    val e = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val n = 128
    val s1 = IvfOps.trainSample(e, n)
    // "Grow" the corpus 4× by unioning id-shifted copies: the sample must
    // stay pinned at n rows (the previous 1-in-5 modulus grew linearly).
    val bigger = (0 to 3).map(i =>
      e.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("v")))
      .reduce(_ unionByName _)
    val s4 = IvfOps.trainSample(bigger, n)
    assert(s1.count() == n, s"sample from base corpus: ${s1.count()} != $n")
    assert(s4.count() == n, s"sample from 4x corpus: ${s4.count()} != $n")
    // Deterministic: same corpus, same hash-rank order, same rows.
    val a = s1.collect().map(_.getSeq[Double](0)).toSeq
    val b = IvfOps.trainSample(e, n).collect().map(_.getSeq[Double](0)).toSeq
    assert(a == b, "trainSample is not deterministic")
    s1.unpersist(); s4.unpersist()
  }

  test("every declared query runs at sf0.001 and returns rows") {
    // Each key gets its own session, so builders that register fixed
    // view names (orders, documents, events) cannot see each other's,
    // and its own Materialize scope, released after its count. One key
    // at a time: sessions share one CacheManager, which hands a cached
    // plan to every equal plan, so a key that released its cache while
    // another key still read it would make that reader rebuild the
    // cached blocks as an RDD no scope owns.
    val before = contextHolds()
    val bad = graft.SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val (n, scope) = Materialize.scope(fn(spark.newSession(), sfDir).count())
      scope.release()
      if (n > 0) None else Some(s"query $name returned no rows")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    assertHeldNoMoreThan(before)
  }
}
