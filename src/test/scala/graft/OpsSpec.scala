package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import graft.ops._

/** Unit + property tests for the ops library (SURVEY §5.2: edge cases on
  * tiny in-memory frames, algebraic laws via ScalaCheck generators).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 12): Seq[A] =
    (1 to n).flatMap(_ => g.sample)

  test("asOf join: inclusive at equal timestamps, null when no prior row") {
    val left = Seq((1L, 100L), (1L, 50L), (2L, 10L))
      .toDF("k", "t_l")
    val right = Seq((1L, 100L, "at100"), (1L, 60L, "at60"), (2L, 20L, "at20"))
      .toDF("k", "t_r", "v")
    val out = AsOfJoin.asOf(left, right, "k", "t_l", "t_r", "v", "matched")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, 100L, "at100"), // equal ts matches (inclusive <=)
      (1L, 50L, null), // no prior right row
      (2L, 10L, null)))
  }

  test("asOf join: carries the LATEST prior value, not just any") {
    val left = Seq((1L, 99L)).toDF("k", "t_l")
    val right = Seq((1L, 10L, "old"), (1L, 90L, "new")).toDF("k", "t_r", "v")
    val got = AsOfJoin.asOf(left, right, "k", "t_l", "t_r", "v", "m")
      .select("m").as[String].head()
    assert(got == "new")
  }

  test("TopK keeps exactly k rows per group with deterministic ties") {
    val df = Seq((1, 10, "a"), (1, 10, "b"), (1, 5, "c"), (2, 1, "d"))
      .toDF("g", "score", "id")
    val got = TopK.perGroup(df, 2, Seq($"g"), Seq($"score".desc, $"id".asc))
      .select("g", "id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a"), (1, "b"), (2, "d")))
  }

  test("minhash: identical texts yield identical signatures, sig length 8") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now today")).toDF("doc_id", "text")
    val sig = MinHashDedup.signatures(docs, "doc_id", "text")
    val rows = sig.collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    // ... and the LSH banding therefore pairs them
    val pairs = MinHashDedup.candidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("jaccard: identical sets → 1.0, disjoint → 0.0") {
    val df = Seq(("a b c", "c b a"), ("a b", "x y")).toDF("t1", "t2")
      .select(MinHashDedup.jaccard($"t1", $"t2").as("j"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0))
  }

  test("cosine: self-similarity 1.0, orthogonal 0.0, opposite -1.0") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 0f), Array(-1f, 0f))).toDF("a", "b")
      .select(round(Similarity.cosine($"a", $"b"), 9).as("c"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0, -1.0))
  }

  test("lshBucket: sign bits of the leading dims, msb-first") {
    val df = Seq(Tuple1(Array(1f, -1f, 1f, -1f))).toDF("v")
      .select(Similarity.lshBucket($"v", 4).as("b"))
    assert(df.as[Long].head() == 10L) // 1010
  }

  test("kmeansAssign: deterministic, total, convergent on the embeddings fixture") {
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    val n = e.count()
    val a1 = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == a2, "k-means assignments not deterministic across runs")
    assert(a1.size == n, "every vector must land in exactly one cell")
    assert(a1.values.toSet.subsetOf((1L to 8L).toSet))
    assert(a1.values.toSet.size > 1, "degenerate clustering: all in one cell")
  }

  test("random-hyperplane LSH recalls a reasonable share of brute-force top-k") {
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    val planes = Similarity.hyperplanes(dim = 64, bits = 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(
      e.filter($"vec_id" < 20), e, "vec_id", "embedding", k = 3))
    val lsh = pairs(Similarity.lshTopKRandom(
      e.filter($"vec_id" < 20), e, "vec_id", "embedding", k = 3, planes))
    val recall = (brute & lsh).size.toDouble / brute.size
    // 4-bit LSH scans ~1/16 of the corpus per probe; on the synthetic
    // fixture it must still recover a meaningful share of the true top-3
    assert(recall >= 0.15, f"LSH recall vs brute force too low: $recall%.3f")
    // buckets must not be degenerate (isotropy — the reason for random planes)
    val nBuckets = e.select(Similarity.lshBucketRandom($"embedding", planes)
      .as("b")).distinct().count()
    assert(nBuckets >= 8, s"only $nBuckets of 16 buckets occupied")
  }

  test("HLL sketches are mergeable: union of half-sketches equals the whole-corpus sketch") {
    // the 100 TB sketch pattern: build per-partition sketches, merge —
    // register-wise max is associative, so the merged estimate is EXACTLY
    // the whole-data estimate (not just close)
    val orders = graft.core.Tables.t(spark, sfDir, "orders")
    val whole = orders
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").as("n"))
      .collect()(0).getLong(0)
    val halves = orders
      .groupBy((col("o_orderkey") % 2).as("half"))
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
    val merged = halves
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n"))
      .collect()(0).getLong(0)
    assert(merged == whole, s"sketch merge changed the estimate: $merged vs $whole")
    val exact = orders.select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"HLL estimate off >5%: $merged vs exact $exact")
  }

  test("percentile_approx lands within 2% of the exact percentile") {
    val part = graft.core.Tables.t(spark, sfDir, "part")
    val row = part.agg(
      expr("percentile_approx(p_retailprice, 0.5, 2000)").as("approx"),
      expr("percentile(p_retailprice, 0.5)").as("exact")).collect()(0)
    val (approx, exact) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02, s"approx $approx vs exact $exact")
  }

  test("langId: empty text → und; stopword-majority language wins") {
    val df = Seq((1L, "xyzzy plugh"), (2L, "der und das ist gut"),
      (3L, "the cat of the hat is a cat")).toDF("id", "t")
      .select($"id", TextOps.langId($"t").as("l"))
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "und", 2L -> "de", 3L -> "en"))
  }

  test("simhash band join finds EVERY pair within hamming ≤3 (pigeonhole recall = 1)") {
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val fp = TextOps.simhashTable(docs, "doc_id", "text", bits = 32)
    val a = fp.select($"doc_id".as("d1"), $"fp".as("f1"))
    val b = fp.select($"doc_id".as("d2"), $"fp".as("f2"))
    def norm(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)
    val brute = a.join(b, $"d1" < $"d2")
      .withColumn("hamming", expr("bit_count(f1 ^ f2)"))
      .filter($"hamming" <= 3)
      .select("d1", "d2", "hamming")
      .collect().map(norm).toSet
    val banded = TextOps.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(norm).toSet
    assert(banded == brute,
      s"banded join missed ${(brute -- banded).size} / found ${(banded -- brute).size} extra")
    assert(brute.nonEmpty, "fixture produced no near-dup pairs — test is vacuous")
  }

  test("simhash16: equal token sets → equal fingerprints in [0, 65536)") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha beta"))
      .toDF("id", "t")
      .select(TextOps.simhash16($"t").as("fp")).as[Long].collect()
    assert(df(0) == df(1)) // order/multiplicity-insensitive (set semantics)
    assert(df(0) >= 0L && df(0) < 65536L)
  }

  test("property: union counts add (SURVEY §5.2 law)") {
    val gl = Gen.listOf(Gen.chooseNum(-100, 100))
    for ((a, b) <- samples(gl).zip(samples(gl))) {
      assert(a.toDF("x").unionAll(b.toDF("x")).count() == a.size + b.size)
    }
  }

  test("property: winnowed fingerprints == naive window minima on random " +
      "strings; planted substrings always share a fingerprint") {
    import spark.implicits._
    import graft.functions.WinnowedFps
    def normT(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    def naive(t: String, k: Int, w: Int): Option[Seq[Long]] = {
      val n = normT(t)
      if (n.length < k + w - 1) None
      else {
        val hs = (0 to n.length - k).map(i => h32(n.substring(i, i + k)))
        Some((w - 1 until hs.length)
          .map(j => hs.slice(j - w + 1, j + 1).min).distinct.sorted)
      }
    }
    // mixed-alphabet strings incl. punctuation runs and repeats (the
    // normalize edge cases), several (k, w) shapes
    val genText = Gen.listOfN(120,
      Gen.oneOf(Gen.alphaLowerChar, Gen.numChar, Gen.oneOf(' ', '!', ';',
        'A', 'z', '0'))).map(_.mkString)
    for (kw <- Seq((5, 4), (20, 8), (8, 1)); t <- samples(genText, n = 6)) {
      val (k, w) = kw
      val got = Seq(t).toDF("text")
        .select(WinnowedFps.fps($"text", k, w).as("f")).head()
      val want = naive(t, k, w)
      assert(want.isEmpty == got.isNullAt(0),
        s"null disagreement for (k=$k, w=$w) on ${t.take(40)}…")
      if (want.nonEmpty)
        assert(got.getSeq[Long](0) == want.get,
          s"deque != naive for (k=$k, w=$w) on ${t.take(40)}…")
    }
    // the guarantee on random hosts: a planted shared substring of
    // length k + w - 1 always yields a shared fingerprint
    val genHost = Gen.listOfN(60, Gen.alphaLowerChar).map(_.mkString)
    val planted = "sharedverbatimsubstring0123456789" // 33 >= 20 + 8 - 1
    for ((h1, h2) <- samples(genHost, n = 6).zip(samples(genHost, n = 6))) {
      val f1 = naive(h1 + " " + planted + " " + h1, 20, 8).get.toSet
      val f2 = naive(h2 + " " + planted + " " + h2, 20, 8).get.toSet
      assert(f1.intersect(f2).nonEmpty,
        s"planted ${planted.length}-char substring produced no shared fp")
    }
  }

  test("property: contracted components == union-find on random graphs") {
    val genEdges = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 29L), Gen.chooseNum(0L, 29L)))
    // a handful of random graphs (self-loops and duplicates included on
    // purpose — the driver must tolerate both); truth via union-find
    for (raw <- samples(genEdges, n = 4)) {
      val edges = raw.toDF("a", "b")
      val nodes = (0L to 29L).toDF("id")
      val parent = scala.collection.mutable.Map((0L to 29L).map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = (0L to 29L).map(i => i -> find(i)).toMap
      val con = Components.contractComponents(edges, nodes)
      val got = con.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Components.release(con)
      assert(got == truth,
        s"contraction diverges from union-find on edges $raw: $got vs $truth")
    }
  }

  test("property: integer pagerank == in-memory reference on random graphs") {
    val genEdges = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    // self-loops and duplicate edges included on purpose — the op must
    // canonicalise them away; truth is the same integer recurrence run
    // sequentially (Java / on positives == floor == Spark's div)
    for (raw <- samples(genEdges, n = 3)) {
      val canon = raw.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      if (canon.nonEmpty) {
        val sym = canon ++ canon.map(_.swap)
        val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
        var rank = deg.keys.map(_ -> GraphRank.Scale).toMap
        for (_ <- 1 to 4) {
          val share = rank.map { case (id, r) => id -> r / deg(id) }
          val in = sym.groupBy(_._2)
            .map { case (b, es) => b -> es.map(e => share(e._1)).sum }
          rank = in.map { case (id, s) => id -> (GraphRank.Base + 85L * s / 100L) }
        }
        val got = GraphRank.pagerank(raw.toDF("a", "b"), rounds = 4)
        val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Components.release(got)
        // frame-local cache proof (the session is shared across suites,
        // so a global CacheManager-empty assert would race other tests)
        assert(got.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
          "pagerank's returned frame is still cached after release()")
        assert(gotMap == rank, s"pagerank diverges from reference on $raw")
      }
    }
  }

  test("property: filter then project commutes with project then filter") {
    for (xs <- samples(Gen.nonEmptyListOf(Gen.chooseNum(-50, 50)))) {
      val df = xs.toDF("x")
      val f1 = df.filter($"x" > 0).select(($"x" * 2).as("y"))
      val f2 = df.select(($"x" * 2).as("y")).filter($"y" > 0)
      assert(f1.collect().map(_.getInt(0)).sorted.toSeq ==
        f2.collect().map(_.getInt(0)).sorted.toSeq)
    }
  }

  test("sessionize matches the streaming session_window on the same data") {
    import org.apache.spark.sql.types.TimestampType
    val events = graft.core.Tables.t(spark, sfDir, "events")
      .filter($"user_id" < 10)
    val batch = Sessionize.byGap(events, $"user_id", $"ts", gapSeconds = 1800)
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("ss"), count(lit(1)).as("n"))
      .select($"user_id", $"ss".cast(TimestampType), $"n")
    val viaSessionWindow = events
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("ss"), $"n")
    val a = batch.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val b = viaSessionWindow.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("to_json / json_tuple / schema_of_json round the Q44 family out") {
    val df = spark.range(1).select(
      to_json(struct(lit("click").as("t"), lit(7).as("k"))).as("j"),
      schema_of_json(lit("""{"k": 1}""")).as("s"))
    val r = df.head()
    assert(r.getString(0) == """{"t":"click","k":7}""")
    assert(r.getString(1).toLowerCase.contains("struct"))
    val jt = spark.sql("""SELECT json_tuple('{"a":1,"b":"x"}', 'a', 'b')""").head()
    assert(jt.getString(0) == "1" && jt.getString(1) == "x")
  }

  test("crc32 and xxhash64 built-ins work (no DuckDB oracle — Q45 note)") {
    val r = spark.range(1).select(
      crc32(lit("graft").cast(BinaryType)).as("c"),
      xxhash64(lit("graft")).as("x")).head()
    assert(r.getLong(0) > 0 && r.getLong(1) != 0)
  }

  test("multimodal decode is deterministic and schema-complete on non-media payloads") {
    import graft.sources.Multimodal
    val bin = Multimodal.readBinary(spark, s"$sfDir/*.parquet")
    val feats = Multimodal.extractFeatures(bin)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("path", "nBytes", "kind", "width", "height", "channels", "sampleRate", "features"))
    val twice = (feats.collect().map(f => (f.path, f.features.toSeq)).toMap,
      Multimodal.extractFeatures(bin).collect().map(f => (f.path, f.features.toSeq)).toMap)
    assert(twice._1 == twice._2)
    val head = feats.head()
    assert(head.features.length == 8)
    assert(head.kind == "other" && head.width == 0 && head.channels == 0)
  }

  test("real PNG/WAV decode parses the dims/channels/rate the generator wrote") {
    import graft.sources.Multimodal
    val fix = Multimodal.ensureFixtures()
    val feats = Multimodal.extractFeatures(Multimodal.readBinary(spark, s"$fix/*"))
      .collect().map(f => f.path.split('/').last -> f).toMap
    assert(feats.size == 12)
    for (i <- 0 until 12; if i % 3 == 0) { // PNGs
      val f = feats(f"asset_$i%02d.png")
      val (w, h) = Multimodal.pngDims(i)
      assert(f.kind == "image" && f.width == w && f.height == h,
        s"asset $i: decoded ${f.width}x${f.height}, rule says ${w}x$h")
      assert(f.channels == Multimodal.pngChannels(i),
        s"asset $i: decoded ${f.channels} channels, rule says ${Multimodal.pngChannels(i)}")
      // histogram over real pixels: sums to ~1
      assert(math.abs(f.features.map(_.toDouble).sum - 1.0) < 1e-3)
    }
    for (i <- 0 until 12; if i % 3 == 1) { // WAVs
      val f = feats(f"asset_$i%02d.wav")
      assert(f.kind == "audio" && f.width == 0 && f.height == 0)
      assert(f.channels == Multimodal.wavChannels(i) &&
        f.sampleRate == Multimodal.wavRate(i),
        s"asset $i: decoded ch=${f.channels} rate=${f.sampleRate}")
      assert(math.abs(f.features.map(_.toDouble).sum - 1.0) < 1e-3)
    }
  }

  test("malformed WAV chunk lengths degrade to fingerprint instead of looping") {
    import graft.sources.Multimodal
    def wavHeader(): java.io.ByteArrayOutputStream = {
      val b = new java.io.ByteArrayOutputStream()
      b.write("RIFF".getBytes("US-ASCII")); b.write(Array[Byte](36, 0, 0, 0))
      b.write("WAVE".getBytes("US-ASCII")); b
    }
    // Chunk length 0xFFFFFFF0 narrows to a NEGATIVE i32 — trusting it
    // would move the walk offset backwards and spin an executor forever.
    val evil = { val b = wavHeader()
      b.write("junk".getBytes("US-ASCII"))
      b.write(Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte))
      b.write(new Array[Byte](16)); b.toByteArray }
    val f = Multimodal.decode("evil.wav", evil)
    assert(f.kind == "audio" && f.channels == 0 && f.sampleRate == 0,
      "malformed len must fall back to the fingerprint path")
    assert(f.features.length == 8)
    // A chunk whose declared length overruns the buffer (non-data) is
    // also malformed — reject rather than read past the next chunk.
    val overrun = { val b = wavHeader()
      b.write("fmt ".getBytes("US-ASCII"))
      b.write(Array[Byte](64, 0, 0, 0)) // declares 64 bytes, only 4 present
      b.write(new Array[Byte](4)); b.toByteArray }
    val g = Multimodal.decode("overrun.wav", overrun)
    assert(g.channels == 0 && g.sampleRate == 0)
    // But a TRUNCATED final data chunk still decodes (clamped) — real
    // files cut mid-upload should keep their parsed fmt metadata.
    val truncated = { val b = wavHeader()
      b.write("fmt ".getBytes("US-ASCII"))
      b.write(Array[Byte](16, 0, 0, 0))
      b.write(Array[Byte](1, 0, 2, 0)) // PCM, 2 channels
      b.write(Array[Byte](0x44, 0xac.toByte, 0, 0)) // 44100 Hz
      b.write(Array[Byte](0x10, 0xb1.toByte, 2, 0, 4, 0, 16, 0)) // rates, 16-bit
      b.write("data".getBytes("US-ASCII"))
      b.write(Array[Byte](0, 4, 0, 0)) // declares 1024, only 8 present
      b.write(new Array[Byte](8)); b.toByteArray }
    val h = Multimodal.decode("truncated.wav", truncated)
    assert(h.channels == 2 && h.sampleRate == 44100,
      s"truncated data chunk should keep fmt metadata, got ch=${h.channels} rate=${h.sampleRate}")
  }

  test("binary chunking round-trips content and balances row sizes") {
    import graft.sources.Multimodal
    val payloads = Seq(
      ("a", Array.range(0, 2500).map(_.toByte)), // 3 chunks of 1024
      ("b", Array.range(0, 1024).map(_.toByte)), // exactly 1 chunk
      ("c", Array.empty[Byte]))                  // empty → 1 empty chunk
    val df = payloads.toDF("k", "content")
    val chunks = Multimodal.chunkBinary(df, "k", "content", chunkSize = 1024)
    val byKey = chunks.collect().groupBy(_.getString(0))
    assert(byKey("a").length == 3 && byKey("b").length == 1 && byKey("c").length == 1)
    assert(byKey("a").map(_.getAs[Array[Byte]]("chunk").length).sorted.toSeq == Seq(452, 1024, 1024))
    val back = Multimodal.reassemble(chunks).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("content").toSeq).toMap
    assert(back == payloads.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  test("frame sampling prunes chunks before decode; real resize rescales images") {
    import graft.sources.Multimodal
    val df = Seq(("v", Array.range(0, 10 * 64).map(_.toByte))).toDF("k", "content")
    val chunks = Multimodal.chunkBinary(df, "k", "content", chunkSize = 64) // 10 frames
    val sampled = Multimodal.frameSample(chunks, stride = 3, offset = 1)
    assert(sampled.select("chunk_idx").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 4, 7))
    val fix = Multimodal.ensureFixtures()
    val bin = Multimodal.readBinary(spark, s"$fix/*")
    val resized = Multimodal.resizeImages(bin, 6, 4)
    val feats = Multimodal.extractFeatures(resized).collect()
      .map(f => f.path.split('/').last -> f).toMap
    // every image re-decodes at the target size; non-images pass through
    assert(feats.values.filter(_.kind == "image")
      .forall(f => f.width == 6 && f.height == 4),
      "resized image did not re-decode at 6x4")
    assert(feats("asset_01.wav").sampleRate == Multimodal.wavRate(1),
      "non-image payload was not passed through unchanged")
    val again = Multimodal.extractFeatures(Multimodal.resizeImages(bin, 6, 4))
      .collect().map(f => f.path.split('/').last -> f.features.toSeq).toMap
    assert(feats.map { case (k, f) => k -> f.features.toSeq } == again,
      "resize is not deterministic")
  }

  test("binaryFile source pushes metadata filters and prunes content from the scan") {
    import graft.sources.Multimodal
    // metadata-only projection must not read file contents
    val meta = Multimodal.readBinary(spark, s"$sfDir/*.parquet")
      .filter(col("length") > 100).select("path", "length")
    val plan = meta.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(length"),
      s"length filter not pushed to the binaryFile scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("content"), s"content read for metadata query: $readSchema")
    assert(meta.count() > 0)
  }

  test("multi-probe IVF: nprobe=2 recall vs brute force is >= nprobe=1 (the recall knob)") {
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(
      e.filter($"vec_id" < 20), e, "vec_id", "embedding", k = 3))
    val (assign, cent) = Similarity.kmeansFit(e, "vec_id", "embedding", k = 8, iters = 2)
    try {
      val index = e.join(assign, "vec_id")
      val c = Similarity.localize(cent)
      val r1 = pairs(Similarity.ivfTopK(e.filter($"vec_id" < 20), index, c,
        "vec_id", "embedding", k = 3, nprobe = 1))
      val r2 = pairs(Similarity.ivfTopK(e.filter($"vec_id" < 20), index, c,
        "vec_id", "embedding", k = 3, nprobe = 2))
      val (rec1, rec2) = ((brute & r1).size.toDouble / brute.size,
        (brute & r2).size.toDouble / brute.size)
      assert(rec2 >= rec1, f"nprobe=2 recall $rec2%.3f < nprobe=1 $rec1%.3f")
      assert(rec2 > 0.0 && brute.nonEmpty)
    } finally assign.unpersist(): Unit
  }

  test("filtered ANN serving: pre-filter inside the cell scan + selectivity-" +
      "scaled knobs — recall at a <=10% predicate meets the unfiltered floor, " +
      "beats post-filtering, and exhaustive knobs equal brute-force-filtered") {
    import spark.implicits._
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    // the selective predicate: ~10% pass rate, the regime where
    // post-filtering a k-list collapses (k·s surviving hits)
    val allowed = e.filter($"vec_id" % 10 === 3).select($"vec_id")
    val probes = e.filter($"vec_id" < 20)
    val (assign, centDF) = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val cent = Similarity.localize(centDF)
      val idx8 = Similarity.quantizeInt8(assign, "vec_id", "embedding")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("probe_id", "cand_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truthF = pairs(Similarity.bruteForceTopK(probes,
        e.join(allowed, Seq("vec_id"), "left_semi"), "vec_id", "embedding", k = 3))
      val truthU = pairs(Similarity.bruteForceTopK(probes, e,
        "vec_id", "embedding", k = 3))
      // REAL serving knobs on both waves — the selectivity scaling is
      // the filtered wave's own job, not the caller's
      val sq8 = IndexKind.Sq8Served(idx8, cent)
      val waveU = sq8.topK(e, probes, k = 3, prefetch = 6, nprobe = 2)
      val waveF = sq8.topKFiltered(e, probes, allowed, k = 3, prefetch = 6,
        nprobe = 2)
      val recallU = (truthU & pairs(waveU)).size.toDouble / truthU.size
      val recallF = (truthF & pairs(waveF)).size.toDouble / truthF.size
      // the WRONG design the verb exists to replace: post-filter the
      // unfiltered top-k — at s ~ 0.1 almost no allowed hit survives
      val post = pairs(waveU.join(allowed.select($"vec_id".as("cand_id")),
        Seq("cand_id"), "left_semi"))
      val recallPost = (truthF & post).size.toDouble / truthF.size
      assert(recallF >= recallU,
        f"filtered recall $recallF%.3f fell below the unfiltered floor " +
          f"$recallU%.3f — the selectivity-scaled knobs must compensate")
      assert(recallF > recallPost,
        f"pre-filtering ($recallF%.3f) must beat post-filtering " +
          f"($recallPost%.3f) at a selective predicate")
      // degenerate contracts, for every payload: every cell probed +
      // prefetch covering the whole allowed set == the brute-force-
      // filtered wave EXACTLY, and an empty `allowed` serves nothing.
      // The float payload is single-stage: scores read the index's own
      // full-precision rows and only nprobe scales.
      val bruteF = Similarity.bruteForceTopK(probes,
          e.join(allowed, Seq("vec_id"), "left_semi"), "vec_id", "embedding",
          k = 3)
        .orderBy($"probe_id", $"rn").collect().toSeq
      val books = Similarity.pqFit(e, "vec_id", "embedding",
        dim = 64, m = 4, codes = 16, iters = 2)
      val pq = IndexKind.PqServed(Similarity.pqEncode(e, "vec_id", "embedding",
        books, cent, dim = 64), cent, books)
      type Filtered = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
      val payloads = Seq[(String, Filtered)](
        "flat" -> (ok => Similarity.ivfTopKFiltered(assign, ok, "vec_id",
          cent.size, k = 3, prefetch = 3, nprobe = 8)((fidx, _, np) =>
          Similarity.ivfTopK(probes, fidx, cent, "vec_id", "embedding",
            k = 3, nprobe = np))),
        "SQ8" -> (ok => sq8.topKFiltered(e, probes, ok, k = 3,
          prefetch = 500, nprobe = 8)),
        "PQ" -> (ok => pq.topKFiltered(e, probes, ok, k = 3,
          prefetch = 500, nprobe = 8)))
      for ((name, filtered) <- payloads) {
        assert(filtered(allowed).orderBy($"probe_id", $"rn").collect().toSeq
            == bruteF,
          s"exhaustive $name filtered wave must equal brute-force-filtered rows")
        assert(filtered(allowed.filter(lit(false))).isEmpty,
          s"$name filtered wave over an empty allowed set must be empty")
      }
    } finally assign.unpersist(): Unit
  }

  test("q142 persisted-index ANN: identical rows to the refit q82 twin, and the " +
      "index artifacts really land on disk partitioned by cell") {
    import graft.queries.LlmOps
    val refit = LlmOps.q82(spark, sfDir).collect().toSeq
    val persisted = LlmOps.q142(spark, sfDir).collect().toSeq
    assert(persisted == refit,
      "serving from the persisted index must reproduce the refit results exactly")
    val idx = new java.io.File(
      graft.queries.PipelineOps.layoutDir(spark, sfDir, "ivfindex"))
    val cells = new java.io.File(idx, "assignments").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cells.nonEmpty,
      "assignments must be partitioned by cell (the probe-pruning layout)")
    assert(new java.io.File(idx, "centroids").exists())
  }

  test("q144 index append: delta placement matches the fit's own rule, and the " +
      "appended segments serve exactly a monolithic index's results") {
    import spark.implicits._
    import graft.queries.LlmOps
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    val base = e.filter($"vec_id" % 10 =!= 0)
    val (baseAssign, cent) =
      Similarity.kmeansFit(base, "vec_id", "embedding", k = 8, iters = 2)
    try {
      // placing the BASE into its own fitted centroids reproduces the
      // fit's final assignment — append uses the identical rule
      val replaced = Similarity.assignToCentroids(base, cent, "vec_id", "embedding")
      assert(replaced.exceptAll(baseAssign).isEmpty &&
        baseAssign.exceptAll(replaced).isEmpty,
        "assignToCentroids diverges from kmeansFit's own assignment rule")
      // the two-segment serve (q144) equals one monolithic assignment
      // table over the same centroids: no row lost at the segment seam
      val monolithic = Similarity.assignToCentroids(e, cent, "vec_id", "embedding")
      val servedMono = Similarity.ivfTopK(e.filter($"vec_id" < 20),
          e.join(monolithic, "vec_id"), Similarity.localize(cent),
          "vec_id", "embedding", k = 3, nprobe = 2)
        .orderBy($"probe_id", $"rn").collect().toSeq
      val appended = LlmOps.q144(spark, sfDir).collect().toSeq
      assert(appended == servedMono,
        "appended-segment serve differs from the monolithic index")
      // the delta segment really landed as its own cell-partitioned dir
      val segs = new java.io.File(
        graft.queries.PipelineOps.layoutDir(spark, sfDir, "ivfappend"), "assignments")
      assert(new java.io.File(segs, "seg0").exists() &&
        new java.io.File(segs, "seg1").exists(),
        "index append must write a second immutable segment, not rewrite")
      val deltaIds = spark.read
        .parquet(new java.io.File(segs, "seg1").toString)
        .select($"vec_id").collect().map(_.getLong(0))
      assert(deltaIds.nonEmpty && deltaIds.forall(_ % 10 == 0),
        "delta segment must hold exactly the appended arrivals")
    } finally baseAssign.unpersist(): Unit
  }

  test("q147 recall report: hits bounded by k, and probing every cell is exact " +
      "(nprobe=k recovers the full brute-force top-3)") {
    import spark.implicits._
    import graft.queries.LlmOps
    val report = LlmOps.q147(spark, sfDir).collect()
    assert(report.nonEmpty)
    assert(report.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 3),
      "hit count outside 0..3")
    assert(report.map(_.getLong(1)).sum > 0, "index returned zero true neighbors")
    // the exactness law the report rides on: nprobe = k scans everything,
    // so every probe's n_hits must be exactly 3
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    val (assign, cent) =
      Similarity.kmeansFit(e, "vec_id", "embedding", k = 8, iters = 2)
    try {
      val ivfAll = Similarity.ivfTopK(e.filter($"vec_id" < 20),
          e.join(assign, "vec_id"), Similarity.localize(cent),
          "vec_id", "embedding", k = 3, nprobe = 8)
        .select($"probe_id", $"cand_id")
      val truth = Similarity.bruteForceTopK(
          e.filter($"vec_id" < 20), e, "vec_id", "embedding", k = 3)
        .select($"probe_id", $"cand_id")
      val missed = truth.exceptAll(ivfAll)
      assert(missed.isEmpty,
        s"nprobe=k missed true neighbors: ${missed.collect().toSeq}")
    } finally assign.unpersist(): Unit
  }

  test("hybrid fusion: IVF-served dense side at nprobe=k equals the " +
      "brute-force dense side (q159/q161 agreement)") {
    import spark.implicits._
    import graft.queries.LlmOps
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val (index, cent) = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val lex = LlmOps.lexicalTopK(spark, sfDir)
      def fusedRows(dense: org.apache.spark.sql.DataFrame) =
        LlmOps.rrfFuse(dense.select($"probe_id", $"cand_id", $"rn".as("rn_d")),
            lex)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
      val viaBrute = fusedRows(Similarity.bruteForceTopK(
        e.filter($"vec_id" < 10), e, "vec_id", "embedding", k = 10))
      // nprobe = k scans every cell, so the served dense ranking equals
      // brute force exactly and the fusion must be identical row-for-row
      val viaServed = fusedRows(Similarity.ivfTopK(index.filter($"vec_id" < 10),
        index, Similarity.localize(cent), "vec_id", "embedding", k = 10,
        nprobe = 8))
      assert(viaBrute == viaServed,
        s"fusion diverged: only-brute=${(viaBrute -- viaServed).take(5)} " +
          s"only-served=${(viaServed -- viaBrute).take(5)}")
      assert(viaBrute.nonEmpty, "fusion produced no rows")
    } finally index.unpersist(): Unit
  }

  test("int8 index: reconstruction error <= scale/2, payload materially " +
      "smaller, prefetch=all recovers the exact wave") {
    import spark.implicits._
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val (index, cent) = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val idx8 = Similarity.quantizeInt8(index, "vec_id", "embedding")
      // (a) the floor(x/scale + 0.5) rule bounds per-element error by
      // scale/2 — the q98 reconstruction law, now on the index payload
      val worst = idx8.join(e.select($"vec_id", $"embedding"), "vec_id")
        .select(max(array_max(zip_with(
          Similarity.toDouble($"embedding"), $"qvec",
          (a, q) => abs(a - q.cast(org.apache.spark.sql.types.DoubleType)
            * $"scale") / $"scale"))).as("m"))
        .head().getDouble(0)
      assert(worst <= 0.5 + 1e-9, f"reconstruction error $worst%.6f > scale/2")
      // (b) the stored payload is materially smaller than the float index
      // (1 byte/dim + one scale vs 8 bytes/dim; parquet encodings blur
      // the exact 8x, so assert a conservative 50%)
      val tmp = java.nio.file.Files.createTempDirectory("graft_sq8").toString
      index.write.mode("overwrite").parquet(s"$tmp/f64")
      idx8.write.mode("overwrite").parquet(s"$tmp/i8")
      def bytes(p: String): Long =
        new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
          .map(_.length).sum
      val (f64, i8) = (bytes(s"$tmp/f64"), bytes(s"$tmp/i8"))
      assert(i8 < f64 / 2, s"int8 index $i8 B not < half of float $f64 B")
      graft.ops.VersionedTarget.rmTree(new java.io.File(tmp))
      // (c) the exactness law the re-rank rides on: prefetch covering
      // every candidate + nprobe=k equals brute force exactly
      val probes = e.filter($"vec_id" < 20)
      val viaInt8 = IndexKind.Sq8Served(idx8, Similarity.localize(cent))
          .topK(e, probes, k = 3, prefetch = 100000, nprobe = 8)
        .select($"probe_id", $"cand_id", $"cos6", $"rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
      val exact = Similarity.bruteForceTopK(probes, e, "vec_id", "embedding",
          k = 3)
        .select($"probe_id", $"cand_id", $"cos6", $"rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
      assert(viaInt8 == exact,
        s"SQ8 exact re-rank diverged from brute force: " +
          s"only-int8=${(viaInt8 -- exact).take(5)} " +
          s"only-brute=${(exact -- viaInt8).take(5)}")
    } finally index.unpersist(): Unit
  }

  test("IVF-PQ index: stored codes equal each subspace fit's own rule, " +
      "payload materially below SQ8, prefetch=all + nprobe=k is brute force") {
    import spark.implicits._
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val (index, cent) = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val coarse = Similarity.localize(cent)
      val books = Similarity.pqFit(e, "vec_id", "embedding",
        dim = 64, m = 4, codes = 16, iters = 2)
      val pq = Similarity.pqEncode(e, "vec_id", "embedding", books, coarse,
        dim = 64).cache()
      try {
        // (a) the one-pass encode equals each per-subspace fit's own final
        // assignment — the PQ analogue of the q144 placement ≡ fit rule
        for (s <- 0 until 4) {
          val slc = e.select($"vec_id",
            slice(Similarity.toDouble($"embedding"), s * 16 + 1, 16).as("sub"))
          val own = Similarity.kmeansAssign(slc, "vec_id", "sub",
            k = 16, iters = 2)
          try {
            val viaFit = own.select($"vec_id", $"cell").collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
            val viaEncode = pq.select($"vec_id",
                element_at($"codes", s + 1).cast("long").as("c")).collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
            assert(viaEncode == viaFit,
              s"subspace $s: encode diverges from the fit's own assignment " +
                s"on ${viaEncode.count(kv => viaFit(kv._1) != kv._2)} vectors")
          } finally own.unpersist(): Unit
        }
        // (b) payload: m=4 code bytes + cell vs SQ8's 64 bytes + scale —
        // parquet encodings blur the exact 16x, assert a conservative 2x
        val idx8 = Similarity.quantizeInt8(index, "vec_id", "embedding")
        val tmp = java.nio.file.Files.createTempDirectory("graft_pq").toString
        idx8.write.mode("overwrite").parquet(s"$tmp/i8")
        pq.write.mode("overwrite").parquet(s"$tmp/pq")
        def bytes(p: String): Long =
          new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
            .map(_.length).sum
        val (i8, pqb) = (bytes(s"$tmp/i8"), bytes(s"$tmp/pq"))
        assert(pqb < i8 / 2, s"PQ index $pqb B not < half of SQ8 $i8 B")
        graft.ops.VersionedTarget.rmTree(new java.io.File(tmp))
        // (c) the exactness law: prefetch covering every candidate +
        // nprobe=k equals brute force exactly (recall is purely the
        // prefetch/nprobe trade, never a correctness loss)
        val probes = e.filter($"vec_id" < 20)
        val viaPQ = IndexKind.PqServed(pq, coarse, books)
            .topK(e, probes, k = 3, prefetch = 100000, nprobe = 8)
          .select($"probe_id", $"cand_id", $"cos6", $"rn")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getInt(3))).toSet
        val exact = Similarity.bruteForceTopK(probes, e, "vec_id",
            "embedding", k = 3)
          .select($"probe_id", $"cand_id", $"cos6", $"rn")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getInt(3))).toSet
        assert(viaPQ == exact,
          s"PQ exact re-rank diverged from brute force: " +
            s"only-pq=${(viaPQ -- exact).take(5)} " +
            s"only-brute=${(exact -- viaPQ).take(5)}")
      } finally pq.unpersist(): Unit
    } finally index.unpersist(): Unit
  }

  test("winnowed fingerprints: deque == naive window minima, the k+w-1 " +
      "guarantee holds, stop-fingerprints drop boilerplate, short → null") {
    import spark.implicits._
    import graft.functions.WinnowedFps
    // (a) expression == naive in-memory recompute (independent md5 +
    // normalize + window minima, no deque)
    def normT(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val sample = "The quick brown fox; JUMPS over 13 lazy dogs!! and " +
      "then runs far away into the quiet evening woods."
    val (k, w) = (20, 8)
    val n = normT(sample)
    val hs = (0 to n.length - k).map(i => h32(n.substring(i, i + k)))
    val naive = (w - 1 until hs.length)
      .map(j => hs.slice(j - w + 1, j + 1).min).distinct.sorted
    val got = Seq(sample).toDF("text")
      .select(WinnowedFps.fps($"text", k, w).as("f"))
      .head().getSeq[Long](0)
    assert(got == naive, s"expression fps $got != naive $naive")
    // (b) short texts have no full window → null
    val nulls = Seq("x" * 26, "y" * 27).toDF("text")
      .select(WinnowedFps.fps($"text", k, w).as("f")).collect()
    assert(nulls(0).isNullAt(0), "len k+w-2 must fingerprint to null")
    assert(!nulls(1).isNullAt(0), "len k+w-1 must yield one fingerprint")
    // (c) the guarantee + the cap: two docs planted with a shared long
    // substring MUST pair; 12 docs sharing only a boilerplate line must
    // NOT (its fingerprints exceed maxDf=10 and drop)
    val shared = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    val boiler = "standard corporate disclaimer line applies globally"
    // noise is a repeated single-letter word unique to its slot, so no
    // 20-char window (including seam windows) is shared across docs —
    // the planted substring and the boilerplate line are the ONLY
    // cross-doc overlaps
    def noise(c: Char): String = s"$c$c$c " * 10
    val docs = (Seq((1L, noise('0') + shared + " " + noise('1')),
      (2L, noise('2') + shared + " " + noise('3'))) ++
      (10L to 21L).map { i =>
        val (c1, c2) = (('b' + (i - 10)).toChar, ('n' + (i - 10)).toChar)
        (i, noise(c1) + boiler + " " + noise(c2))
      }).toDF("doc_id", "text")
    // at the shipped minShared=3: the df cap kills every INTERIOR
    // boilerplate fingerprint (selected in all 12 docs), and winnowing's
    // boundary-dependent selection leaks at most a couple of boiler
    // grams per pair (a window minimum near a region edge is chosen in
    // only SOME docs, putting its df under the cap) — the threshold is
    // what finishes them off; the planted pair shares 12 fingerprints
    val pairs = graft.ops.TextOps.winnowedPairs(docs, "doc_id", "text",
        k = 20, w = 8, minShared = 3, maxDf = 10)
      .select($"d1", $"d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the planted pair to survive cap+threshold: $pairs")
  }

  test("q171 diversification: closure/keeper/re-rank match an in-memory " +
      "replay; the fixture exercises a real collapse") {
    import spark.implicits._
    import graft.queries.LlmOps
    val out = LlmOps.q171(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    graft.core.CacheScope.releaseAll()
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val dense = Similarity.bruteForceTopK(
        e.filter($"vec_id" < 10), e, "vec_id", "embedding", k = 10)
      .select($"probe_id", $"cand_id", $"rn".as("rn_d"))
    val fused = LlmOps.rrfFuse(dense, LlmOps.lexicalTopK(spark, sfDir),
        topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    val listIds = fused.map(_._2).distinct.toSeq
    val grams = graft.core.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id".isin(listIds: _*))
      .select($"doc_id",
        graft.functions.CharGramHashes.hashes($"text", 5).as("g"))
      .filter($"g".isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (grams(a), grams(b))
      val i = x.intersect(y).size
      i.toDouble / (x.size + y.size - i)
    }
    // in-memory replay: per probe, union-find over >=0.5 within-list
    // pairs, keep each group's best fused rank, re-rank the keepers
    val expected = fused.groupBy(_._1).toSeq.flatMap { case (p, lst) =>
      val ids = lst.map(_._2).toSeq
      val parent = scala.collection.mutable.Map(ids.map(x => x -> x): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      for {
        i <- ids.indices; j <- (i + 1) until ids.size
        if grams.contains(ids(i)) && grams.contains(ids(j)) &&
          jac(ids(i), ids(j)) >= 0.5
      } {
        val (ra, rb) = (find(ids(i)), find(ids(j)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      lst.groupBy(m => find(m._2)).values.map(_.minBy(_._4)).toSeq
        .sortBy(m => (-m._3, m._2)).take(5).zipWithIndex
        .map { case (m, i) => (p, m._2, m._3, i + 1) }
    }.toSet
    assert(out.toSet == expected,
      s"diversified lists diverge from the in-memory replay: " +
        s"only-spark=${(out.toSet -- expected).take(5)} " +
        s"only-replay=${(expected -- out.toSet).take(5)}")
    // non-vacuity: at least one probe's list must actually change
    val plain = fused.filter(_._4 <= 5).map(t => (t._1, t._2)).toSet
    assert(out.map(t => (t._1, t._2)).toSet != plain,
      "fixture exercises no collapse — the diversified top-5 equals the " +
        "plain fused top-5 everywhere")
  }

  test("perceptual hashes: PNG decode roundtrips the fixture rule exactly; " +
      "banded Hamming join is recall-complete; variants are near, bases far") {
    import spark.implicits._
    import graft.sources.Multimodal
    val fix = Multimodal.ensurePhashFixtures()
    val hashed = Multimodal.perceptualHashes(
        Multimodal.readBinary(spark, s"$fix/*.png"))
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        col("ahash"), col("dhash"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hashed.size == 36, s"expected 36 fixtures, decoded ${hashed.size}")
    // (a) the decoded hashes equal the generation rule's — the PNG write →
    // ImageIO read → raster-sample path changes no pixel
    def ruleHash(i: Int, j: Int): (Long, Long) = {
      val bs = Array.ofDim[Long](8, 8)
      for (y <- 0 until 32; x <- 0 until 32)
        bs(y / 4)(x / 4) += Multimodal.phashPixel(i, j, x, y)
      val total = bs.map(_.sum).sum
      var ah = 0L; var dh = 0L
      for (by <- 0 until 8; bx <- 0 until 8) {
        val p = by * 8 + bx
        if (bs(by)(bx) * 64 > total) ah |= 1L << p
        if (bs(by)(bx) > bs(by)((bx + 1) % 8)) dh |= 1L << p
      }
      (ah, dh)
    }
    for (i <- 0 until 12; j <- 0 until 3)
      assert(hashed(f"img_$i%02d_$j.png") == ruleHash(i, j),
        s"decoded hash diverged from the rule for img_${i}_$j")
    // (b) fixture separation: a one-block edit moves few aHash bits, a
    // different base moves many — the margin the band join rides on
    def hamA(a: String, b: String) =
      java.lang.Long.bitCount(hashed(a)._1 ^ hashed(b)._1)
    for (i <- 0 until 12) {
      assert(hamA(f"img_$i%02d_0.png", f"img_$i%02d_1.png") <= 2)
      assert(hamA(f"img_$i%02d_0.png", f"img_$i%02d_2.png") <= 2)
    }
    assert(hamA("img_00_0.png", "img_01_0.png") > 6,
      "different bases must not look like near-dups")
    // (c) the 8-byte-band join finds EXACTLY the all-pairs reference at
    // hamming <= 6 (pigeonhole-complete for <= 7)
    val hashDf = hashed.toSeq.map { case (f, (a, d)) => (f, a, d) }
      .toDF("fname", "ahash", "dhash")
    val banded = graft.core.CacheScope.scoped {
      Multimodal.bandedHammingPairs(hashDf, "fname", "ahash", "dhash", maxHamming = 6)
        .select($"d1", $"d2").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    val names = hashed.keys.toSeq.sorted
    val reference = (for {
      a <- names; b <- names if a < b
      if java.lang.Long.bitCount(hashed(a)._1 ^ hashed(b)._1) <= 6
    } yield (a, b)).toSet
    assert(banded == reference,
      s"banded join missed ${(reference -- banded).take(5)} " +
        s"or fabricated ${(banded -- reference).take(5)}")
    assert(reference.size == 36, // 3 within-base pairs × 12 bases
      s"fixture should yield 36 near-dup pairs, got ${reference.size}")
  }

  test("video fingerprints: GVID decode roundtrips the fixture rule; " +
      "unsampled frames cannot change a bit; banded == all-pairs") {
    import spark.implicits._
    import graft.sources.Multimodal
    val fix = Multimodal.ensureVideoFixtures()
    val fps = Multimodal.videoFingerprints(
        Multimodal.readBinary(spark, s"$fix/*.gvid"), stride = 2)
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        col("n_frames"), col("n_sampled"), col("afp"), col("dfp"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(fps.size == 36, s"expected 36 fixtures, decoded ${fps.size}")
    assert(fps.values.forall(v => v._1 == 128L && v._2 == 64L),
      "128 frames, 64 sampled — the stride-2 geometry")
    // (a) decoded fingerprints equal the generation rule's (container
    // write → header walk → sampled-frame sums changes no pixel)
    def ruleFp(i: Int, j: Int): (Long, Long) = {
      val fs = new Array[Long](64)
      for (f <- 0 until 64; y <- 0 until 32; x <- 0 until 32)
        fs(f) += Multimodal.videoPixel(i, j, 2 * f, x, y)
      val total = fs.sum
      var a = 0L; var d = 0L
      for (f <- 0 until 64) {
        if (fs(f) * 64 > total) a |= 1L << f
        if (fs(f) > fs((f + 1) % 64)) d |= 1L << f
      }
      (a, d)
    }
    for (i <- 0 until 12; j <- 0 until 3)
      assert((fps(f"vid_$i%02d_$j.gvid")._3, fps(f"vid_$i%02d_$j.gvid")._4)
          == ruleFp(i, j),
        s"decoded fingerprint diverged from the rule for vid_${i}_$j")
    // (b) SAMPLING INDEPENDENCE: rewrite every unsampled (odd) frame of
    // one clip with arbitrary content — the fingerprint must not move
    val dir = java.nio.file.Files.createTempDirectory("graft_video_alt")
    java.nio.file.Files.write(dir.resolve("alt.gvid"),
      Multimodal.gvidBytes(32, 32, 128, (t, x, y) =>
        if (t % 2 == 1) (t * 31 + x * 7 + y) % 256
        else Multimodal.videoPixel(3, 0, t, x, y)))
    // a truncated payload must drop out, not crash or fingerprint
    java.nio.file.Files.write(dir.resolve("bad.gvid"),
      "GVIDxxxxxx".getBytes("US-ASCII"))
    val altRows = Multimodal.videoFingerprints(
        Multimodal.readBinary(spark, s"$dir/*.gvid"), stride = 2)
      .select(col("afp"), col("dfp")).collect()
    assert(altRows.length == 1, "undecodable payload must drop out")
    assert((altRows.head.getLong(0), altRows.head.getLong(1)) == ruleFp(3, 0),
      "unsampled frame content leaked into the fingerprint")
    // (c) fixture separation + banded join == all-pairs reference
    def hamA(a: String, b: String) =
      java.lang.Long.bitCount(fps(a)._3 ^ fps(b)._3)
    for (i <- 0 until 12) {
      assert(hamA(f"vid_$i%02d_0.gvid", f"vid_$i%02d_1.gvid") <= 2)
      assert(hamA(f"vid_$i%02d_0.gvid", f"vid_$i%02d_2.gvid") <= 2)
    }
    assert(hamA("vid_00_0.gvid", "vid_01_0.gvid") > 6,
      "different bases must not look like near-dups")
    val fpDf = fps.toSeq.map { case (f, (_, _, a, d)) => (f, a, d) }
      .toDF("fname", "afp", "dfp")
    val banded = graft.core.CacheScope.scoped {
      Multimodal.bandedHammingPairs(fpDf, "fname", "afp", "dfp",
          maxHamming = 6)
        .select($"d1", $"d2").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    val names = fps.keys.toSeq.sorted
    val reference = (for {
      a <- names; b <- names if a < b
      if java.lang.Long.bitCount(fps(a)._3 ^ fps(b)._3) <= 6
    } yield (a, b)).toSet
    assert(banded == reference,
      s"banded join missed ${(reference -- banded).take(5)} " +
        s"or fabricated ${(banded -- reference).take(5)}")
    assert(reference.size == 36,
      s"fixture should yield 36 near-dup pairs, got ${reference.size}")
  }

  test("audio fingerprints: WAV decode roundtrips the fixture rule exactly; " +
      "banded Hamming join is recall-complete; variants near, bases far") {
    import spark.implicits._
    import graft.sources.Multimodal
    val fix = Multimodal.ensureAudioFpFixtures()
    val fps = Multimodal.audioFingerprints(
        Multimodal.readBinary(spark, s"$fix/*.wav"))
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        col("afp"), col("dfp"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fps.size == 36, s"expected 36 fixtures, decoded ${fps.size}")
    // (a) the decoded fingerprints equal the generation rule's — the WAV
    // write → RIFF walk → sample path changes no sample
    def ruleFp(i: Int, j: Int): (Long, Long) = {
      val fs = new Array[Long](64)
      for (idx <- 0 until 1024)
        fs(idx / 16) += Multimodal.audioFpSample(i, j, idx) // all >= 0
      val total = fs.sum
      var a = 0L; var d = 0L
      for (f <- 0 until 64) {
        if (fs(f) * 64 > total) a |= 1L << f
        if (fs(f) > fs((f + 1) % 64)) d |= 1L << f
      }
      (a, d)
    }
    for (i <- 0 until 12; j <- 0 until 3)
      assert(fps(f"wav_$i%02d_$j.wav") == ruleFp(i, j),
        s"decoded fingerprint diverged from the rule for wav_${i}_$j")
    // (b) fixture separation: a one-frame inversion moves few afp bits,
    // a different base moves many — the margin the band join rides on
    def hamA(a: String, b: String) =
      java.lang.Long.bitCount(fps(a)._1 ^ fps(b)._1)
    for (i <- 0 until 12) {
      assert(hamA(f"wav_$i%02d_0.wav", f"wav_$i%02d_1.wav") <= 2)
      assert(hamA(f"wav_$i%02d_0.wav", f"wav_$i%02d_2.wav") <= 2)
    }
    assert(hamA("wav_00_0.wav", "wav_01_0.wav") > 6,
      "different bases must not look like near-dups")
    // (c) the 8-byte-band join finds EXACTLY the all-pairs reference at
    // hamming <= 6 (pigeonhole-complete for <= 7)
    val fpDf = fps.toSeq.map { case (f, (a, d)) => (f, a, d) }
      .toDF("fname", "afp", "dfp")
    val banded = graft.core.CacheScope.scoped {
      Multimodal.bandedHammingPairs(fpDf, "fname", "afp", "dfp",
          maxHamming = 6)
        .select($"d1", $"d2").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    val names = fps.keys.toSeq.sorted
    val reference = (for {
      a <- names; b <- names if a < b
      if java.lang.Long.bitCount(fps(a)._1 ^ fps(b)._1) <= 6
    } yield (a, b)).toSet
    assert(banded == reference,
      s"banded join missed ${(reference -- banded).take(5)} " +
        s"or fabricated ${(banded -- reference).take(5)}")
    assert(reference.size == 36, // 3 within-base pairs × 12 bases
      s"fixture should yield 36 near-dup pairs, got ${reference.size}")
  }

  test("audio fingerprints: general floor-boundary grid (sample count not " +
      "divisible by 64) and negative samples match an independent recompute") {
    import graft.sources.Multimodal
    import java.nio.file.Files
    // 1000 samples (frames of 15/16 samples) with negative values: the
    // fingerprint reads |sample| on the floor-boundary grid with
    // count-aware cross-multiplication — recompute it independently
    val samples = Array.tabulate(1000)(k =>
      (if (k % 3 == 0) -1 else 1) * ((k * 131) % 20000 - 7000))
    val dir = Files.createTempDirectory("graft_audio_grid")
    Files.write(dir.resolve("odd.wav"), Multimodal.monoWav(8000, samples.toSeq))
    val row = Multimodal.audioFingerprints(
        Multimodal.readBinary(spark, s"$dir/*.wav"))
      .select(col("n_samples"), col("afp"), col("dfp"))
      .collect().head
    assert(row.getLong(0) == 1000L)
    val n = samples.length
    val fs = new Array[Long](64); val fn = new Array[Long](64)
    for (k <- 0 until n) {
      val f = (k.toLong * 64 / n).toInt
      fs(f) += math.abs(samples(k)); fn(f) += 1
    }
    val total = fs.sum
    var a = 0L; var d = 0L
    for (f <- 0 until 64) {
      if (fs(f) * n > total * fn(f)) a |= 1L << f
      val nb = (f + 1) % 64
      if (fs(f) * fn(nb) > fs(nb) * fn(f)) d |= 1L << f
    }
    assert(row.getLong(1) == a && row.getLong(2) == d,
      "floor-boundary audio fingerprint diverged from the independent recompute")
  }

  test("perceptual hashes: general floor-boundary grid (dims not divisible " +
      "by 8) and the color-luminance path match an independent recompute") {
    import spark.implicits._
    import graft.sources.Multimodal
    import java.awt.image.BufferedImage
    // 20x12 gray: blocks are 2-3 px wide / 1-2 px tall — unequal pixel
    // counts, so the cross-multiplied (bs*totalPx > total*bp) comparison
    // is actually exercised; plus a 20x12 RGB twin through the
    // (r+g+b)/3 luminance path
    def pix(x: Int, y: Int): Int = (x * 41 + y * 97 + 13) % 256
    def png(color: Boolean): Array[Byte] = {
      val img = new BufferedImage(20, 12,
        if (color) BufferedImage.TYPE_INT_RGB else BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 12; x <- 0 until 20) {
        val v = pix(x, y)
        if (color) img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 7) % 256))
        else img.getRaster.setSample(x, y, 0, v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_phash_grid")
    java.nio.file.Files.write(dir.resolve("gray.png"), png(color = false))
    java.nio.file.Files.write(dir.resolve("rgb.png"), png(color = true))
    val got = Multimodal.perceptualHashes(
        Multimodal.readBinary(spark, s"$dir/*.png"))
      .collect().map(r => r.getString(0).split('/').last ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    // independent recompute of the documented rule (floor-boundary grid,
    // integer cross-multiplication) for both intensity functions
    def expect(lum: (Int, Int) => Long): (Long, Long) = {
      val bs = Array.ofDim[Long](8, 8); val bp = Array.ofDim[Long](8, 8)
      for (y <- 0 until 12; x <- 0 until 20) {
        bs(y * 8 / 12)(x * 8 / 20) += lum(x, y)
        bp(y * 8 / 12)(x * 8 / 20) += 1
      }
      val total = bs.map(_.sum).sum
      var ah = 0L; var dh = 0L
      for (by <- 0 until 8; bx <- 0 until 8) {
        val p = by * 8 + bx
        if (bs(by)(bx) * 240L > total * bp(by)(bx)) ah |= 1L << p
        val nb = (bx + 1) % 8
        if (bs(by)(bx) * bp(by)(nb) > bs(by)(nb) * bp(by)(bx)) dh |= 1L << p
      }
      (ah, dh)
    }
    val (gw, gh2, gah, gdh) = got("gray.png")
    assert((gw, gh2) == (20, 12))
    assert((gah, gdh) == expect((x, y) => pix(x, y).toLong),
      "gray floor-boundary grid hash diverged from the rule")
    val (_, _, cah, cdh) = got("rgb.png")
    val expColor = expect { (x, y) =>
      val v = pix(x, y); ((v + (v * 3) % 256 + (v * 7) % 256) / 3).toLong
    }
    assert((cah, cdh) == expColor,
      "color luminance hash diverged from the (r+g+b)/3 rule")
    graft.ops.VersionedTarget.rmTree(dir.toFile)
  }

  test("int8-served hybrid: RRF fusion over the SQ8 dense side equals the " +
      "brute-force fusion when the re-rank is exhaustive (q161+q162 compose)") {
    // the composition a production RAG stack runs — the 8x-smaller int8
    // index serving the dense side of hybrid retrieval: the SQ8 wave's
    // exact re-rank returns EXACT scores, so with prefetch covering every
    // candidate and nprobe=k the fused ranking must equal q159's
    // brute-force-dense fusion row-for-row
    import spark.implicits._
    import graft.queries.LlmOps
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val (index, cent) = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val idx8 = Similarity.quantizeInt8(index, "vec_id", "embedding")
      val lex = LlmOps.lexicalTopK(spark, sfDir)
      def fusedRows(dense: org.apache.spark.sql.DataFrame) =
        LlmOps.rrfFuse(dense.select($"probe_id", $"cand_id", $"rn".as("rn_d")),
            lex)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
      val viaInt8 = fusedRows(IndexKind.Sq8Served(idx8, Similarity.localize(cent))
        .topK(e, e.filter($"vec_id" < 10), k = 10, prefetch = 100000, nprobe = 8))
      val viaBrute = fusedRows(Similarity.bruteForceTopK(
        e.filter($"vec_id" < 10), e, "vec_id", "embedding", k = 10))
      assert(viaInt8.nonEmpty && viaInt8 == viaBrute,
        s"int8-dense fusion diverged: only-int8=${(viaInt8 -- viaBrute).take(5)} " +
          s"only-brute=${(viaBrute -- viaInt8).take(5)}")
    } finally index.unpersist(): Unit
  }

  test("q183 served diversification: with exhaustive prefetch and nprobe=k " +
      "the int8-served diversified lists equal the brute-force-dense ones " +
      "(q171+q164 compose)") {
    // diversification is pure post-fusion machinery: if the served dense
    // side degenerates to brute force (exact re-rank + exhaustive knobs —
    // the invariant the int8-served hybrid row already pins), then the
    // whole diversified output must too, row-for-row
    import spark.implicits._
    import graft.queries.LlmOps
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val (index, cent) = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val idx8 = Similarity.quantizeInt8(index, "vec_id", "embedding")
      val lex = LlmOps.lexicalTopK(spark, sfDir)
      def diversified(dense: org.apache.spark.sql.DataFrame) =
        LlmOps.diversifyFused(docs,
            LlmOps.rrfFuse(dense.select($"probe_id", $"cand_id",
              $"rn".as("rn_d")), lex, topN = 20))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
      val viaServed = diversified(IndexKind.Sq8Served(idx8, Similarity.localize(cent))
        .topK(e, e.filter($"vec_id" < 10), k = 10, prefetch = 100000, nprobe = 8))
      val viaBrute = diversified(Similarity.bruteForceTopK(
        e.filter($"vec_id" < 10), e, "vec_id", "embedding", k = 10))
      assert(viaServed.nonEmpty && viaServed == viaBrute,
        s"served diversification diverged: " +
          s"only-served=${(viaServed -- viaBrute).take(5)} " +
          s"only-brute=${(viaBrute -- viaServed).take(5)}")
    } finally index.unpersist(): Unit
  }

  test("winnowedCrossPairs (q195): the asymmetric postings probe equals the " +
      "symmetric join restricted to cross-parity pairs — same fingerprints, " +
      "same df cap, no within-side pair ever generated") {
    import spark.implicits._
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val existing = docs.filter($"doc_id" % 2 === 0)
    val cross = graft.ops.TextOps.winnowedCrossPairs(incoming, existing,
        "doc_id", "text", k = 20, w = 8, minShared = 3, maxDf = 10)
      .select($"in_id", $"ex_id", $"n_shared", $"cont6")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val sym = graft.ops.TextOps.winnowedPairs(docs, "doc_id", "text",
        k = 20, w = 8, minShared = 3, maxDf = 10)
      .filter($"d1" % 2 =!= $"d2" % 2)
      .collect()
      .map { r =>
        val (d1, d2) = (r.getLong(0), r.getLong(1))
        val (in, ex) = if (d1 % 2 == 1) (d1, d2) else (d2, d1)
        (in, ex, r.getLong(2), r.getDouble(3))
      }
      .toSet
    assert(cross.nonEmpty, "fixture must exercise at least one cross pair")
    assert(cross == sym,
      s"cross probe diverged from the symmetric restriction: " +
        s"only-cross=${(cross -- sym).take(5)} only-sym=${(sym -- cross).take(5)}")
    // the asymmetric shape's whole point: no within-side pair exists
    assert(cross.forall { case (in, ex, _, _) => in % 2 == 1 && ex % 2 == 0 })
  }

  test("simhashCrossPairs (q200): the asymmetric band probe equals the " +
      "symmetric join restricted to cross-parity pairs — same fingerprint, " +
      "same bands, no within-side pair ever generated") {
    import spark.implicits._
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" < 2000)
    val incoming = docs.filter($"doc_id" % 2 === 1)
    val existing = docs.filter($"doc_id" % 2 === 0)
    val cross = graft.ops.TextOps.simhashCrossPairs(incoming, existing,
        "doc_id", "text", maxHamming = 3, bits = 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val sym = graft.ops.TextOps.simhashNearDupPairs(docs, "doc_id", "text",
        maxHamming = 3, bits = 32)
      .filter($"d1" % 2 =!= $"d2" % 2)
      .collect()
      .map { r =>
        val (d1, d2) = (r.getLong(0), r.getLong(1))
        val (in, ex) = if (d1 % 2 == 1) (d1, d2) else (d2, d1)
        (in, ex, r.getInt(2))
      }
      .toSet
    assert(cross.nonEmpty, "fixture must exercise at least one cross pair")
    assert(cross == sym,
      s"cross probe diverged from the symmetric restriction: " +
        s"only-cross=${(cross -- sym).take(5)} only-sym=${(sym -- cross).take(5)}")
    assert(cross.forall { case (in, ex, _) => in % 2 == 1 && ex % 2 == 0 })
  }

  test("q192 oracle gate: the SimHash pair graph's min-label unrolling " +
      "converges within 6 rounds at the ORACLE's sf0.01 fixture (measured " +
      "5 at sf0.01 AND sf0.1 — the margin the unrolled oracle rests on)") {
    import spark.implicits._
    val docs = graft.core.Tables.t(spark, "/root/testdata/sf0.01", "documents")
      .filter($"doc_id" < 2000)
    val pairs = graft.ops.TextOps.simhashNearDupPairs(docs, "doc_id", "text",
        maxHamming = 3, bits = 32)
      .select($"d1".as("a"), $"d2".as("b"))
    val nodes = docs.select($"doc_id".as("id"))
    val fix = Components.minLabelFixpoint(pairs, nodes)
    val r3 = Components.minLabelRounds(pairs, nodes, 6)
    try {
      val a = fix.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = r3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, "q192's unrolled-6 oracle would diverge from the " +
        s"fixpoint on the gate fixture: ${(a -- b).take(3)} vs ${(b -- a).take(3)}")
    } finally { Components.release(fix); Components.release(r3) }
  }

  test("q193 PQ-served diversification: with exhaustive prefetch and " +
      "nprobe=k the PQ-served diversified lists equal the brute-force-dense " +
      "ones (q171+q188 compose — the exact re-rank strips the ADC error)") {
    import spark.implicits._
    import graft.queries.LlmOps
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val (_, coarseDF) = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 8, iters = 2, materialize = false, withVec = false)
    val coarse = Similarity.localize(coarseDF)
    val books = Similarity.pqFit(e, "vec_id", "embedding",
      dim = 64, m = 4, codes = 16, iters = 2)
    val idx = Similarity.pqEncode(e, "vec_id", "embedding", books, coarse,
      dim = 64)
    val lex = LlmOps.lexicalTopK(spark, sfDir)
    def diversified(dense: org.apache.spark.sql.DataFrame) =
      LlmOps.diversifyFused(docs,
          LlmOps.rrfFuse(dense.select($"probe_id", $"cand_id",
            $"rn".as("rn_d")), lex, topN = 20))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val viaServed = diversified(IndexKind.PqServed(idx, coarse, books)
      .topK(e, e.filter($"vec_id" < 10), k = 10, prefetch = 100000, nprobe = 8))
    val viaBrute = diversified(Similarity.bruteForceTopK(
      e.filter($"vec_id" < 10), e, "vec_id", "embedding", k = 10))
    assert(viaServed.nonEmpty && viaServed == viaBrute,
      s"PQ-served diversification diverged: " +
        s"only-served=${(viaServed -- viaBrute).take(5)} " +
        s"only-brute=${(viaBrute -- viaServed).take(5)}")
  }

  test("cross-JVM append-vs-refit stress: every row the final manifest " +
      "serves sits in the cell its TAGGED quantizer assigns") {
    // the in-process onPlaced seam proves the retry logic; THIS makes the
    // race real across processes — a second JVM streams appendToIndex
    // batches (placement window widened to 25 ms) while this JVM lands
    // refitIndex rebases fitted on DIFFERENT corpus slices, so a
    // mis-paired placement would land in visibly wrong cells
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.ops.VersionedTarget
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_storm")
    val aroot = dir.resolve("assignments")
    val croot = dir.resolve("centroids")
    java.nio.file.Files.createDirectories(aroot)
    java.nio.file.Files.createDirectories(croot)
    val assignT = VersionedTarget.Segmented(aroot,
      partitionCols = Seq("cell"), clusterCommits = true)
    val centT = VersionedTarget.Rewrite(croot)
    def corpusDf(n: Int) = (0 until n)
      .map(i => (i.toLong, graft.tools.AppendStorm.vec(i.toLong)))
      .toDF("vec_id", "embedding").coalesce(2)
    // base build: centroids first, tag stamped with the pointer swap
    val (a0, c0) = Similarity.kmeansFit(corpusDf(20), "vec_id", "embedding",
      k = 3, iters = 1, materialize = false, withVec = true)
    centT.commit(c0, 0L)
    assignT.commit(a0, 0L, tag = Some("v0"))
    val cmd = childJvmCmd("graft.tools.AppendStorm",
      Seq(aroot.toString, croot.toString, "8"))
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    @volatile var ready = false
    @volatile var appended = 0
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drain = new Thread(() => {
      var l = out.readLine()
      while (l != null) {
        if (l == "READY") ready = true
        if (l.startsWith("APPENDED")) appended += 1
        lines.add(l)
        l = out.readLine()
      }
    })
    drain.setDaemon(true)
    drain.start()
    val t0 = System.nanoTime()
    while (!ready && (System.nanoTime() - t0) < 120e9) Thread.sleep(100)
    assert(ready, s"AppendStorm never came up:\n${lines.asScala.mkString("\n")}")
    // refit cadence against the child's appends: each refit fits a
    // DIFFERENT slice so the quantizer actually moves between epochs
    var refits = 0
    var r = 0
    while (proc.isAlive) {
      r += 1
      val bid = VersionedTarget.currentEpoch(aroot).getOrElse(0L) + 1L
      try {
        Similarity.refitIndex(corpusDf(20 + (r % 3) * 10),
          "vec_id", "embedding", k = 3, iters = 1, assignT, centT, bid,
          withVec = true)
        if (assignT.currentTag.contains(s"v$bid")) refits += 1
      } catch {
        case e: Exception if {
          val m = Option(e.getMessage).getOrElse("")
          m.contains("advance the epoch") || m.contains("raced a newer commit")
        } => // the child's append won this epoch — next loop re-reads it
      }
      Thread.sleep(40)
    }
    assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) &&
      proc.exitValue() == 0,
      s"AppendStorm failed:\n${lines.asScala.mkString("\n")}")
    drain.join(10000)
    assert(appended == 8, s"child landed $appended of 8 appends")
    assert(refits >= 1, "no refit ever landed — the race was never exercised")
    // THE INVARIANT: re-place every served row with the quantizer the
    // final manifest TAG names — whatever interleaving of appends,
    // aborted placements and rebases produced this manifest, each row's
    // stored cell must equal the tagged quantizer's argmin (a segment
    // committed against a stale quantizer would diverge here)
    val tag = assignT.currentTag.getOrElse(fail("final manifest carries no tag"))
    val idx = assignT.current(spark)
      .getOrElse(fail("index target serves no version"))
    val q = Similarity.localizedQuantizer(spark, centT, tag)
    val got = idx.select($"vec_id", $"cell").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val want = Similarity.assignToCentroids(
        idx.select($"vec_id", $"embedding"), q, "vec_id", "embedding",
        withVec = false)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got.nonEmpty && got == want,
      s"rows placed with a quantizer other than $tag: " +
        s"${(got.toSet -- want.toSet).take(5)}")
    VersionedTarget.rmTree(dir.toFile)
  }

  test("q69 banded-LSH pairs: bucket keys spread the corpus, candidates prune, recall holds") {
    import graft.queries.LlmOps
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    val n = e.count()
    val allPairs = n * (n - 1) / 2
    // (1) the blocking key must HASH-SPREAD the corpus (the r2 weakness was
    // a fixed |labels|-cardinality key): most of the 8×16 (band, value)
    // buckets occupied, no bucket holding more than n/4 rows
    val w = LlmOps.q69Planes.size / 8
    val buckets = (0 until 8).flatMap { bnd =>
      e.select(Similarity.lshBucketRandom($"embedding",
          LlmOps.q69Planes.slice(bnd * w, (bnd + 1) * w)).as("bv"))
        .groupBy("bv").count().collect().map(r => (bnd, r.getLong(0), r.getLong(1)))
    }
    assert(buckets.size >= 64, s"only ${buckets.size} of 128 (band,value) keys occupied")
    assert(buckets.map(_._3).max <= n / 4,
      s"degenerate bucket: ${buckets.map(_._3).max} of $n rows share one key")
    // (2) candidate generation must PRUNE vs all-pairs (minCos6 = -1 keeps
    // every candidate, so this counts the raw banded join output)
    val candidates = Similarity.lshBandedPairs(e, "vec_id", "embedding",
      LlmOps.q69Planes, bands = 8, minCos6 = -1.0).count()
    assert(candidates < allPairs * 0.6,
      s"banded join barely prunes: $candidates of $allPairs pairs are candidates")
    // (3) declared recall: banded+filtered output vs the brute-force truth
    // at the same threshold (1-(1-p^4)^8 ≈ 0.76 at cos≈0.45 on this fixture)
    val withN = e.select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nn"))
    val brute = withN.select($"vec_id".as("d1"), $"embedding".as("v1"), $"nn".as("n1"))
      .join(withN.select($"vec_id".as("d2"), $"embedding".as("v2"), $"nn".as("n2")),
        $"d1" < $"d2")
      .withColumn("cos6", round(Similarity.dot($"v1", $"v2") / ($"n1" * $"n2"), 6))
      .filter($"cos6" >= 0.4)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = LlmOps.q69(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(brute), "banded output contains a pair below the threshold")
    val recall = (brute & banded).size.toDouble / brute.size
    assert(recall >= 0.5, f"banded recall vs brute force too low: $recall%.3f")
    assert(brute.nonEmpty, "fixture produced no true pairs — test is vacuous")
  }

  test("q79 token-band pairs: keys spread, candidates prune, in-band recall is exact") {
    import graft.queries.LlmOps
    val p = graft.core.Tables.t(spark, sfDir, "part")
      .filter($"p_partkey" <= 500)
      .select($"p_partkey", lower($"p_name").as("nm"))
    val n = p.count()
    val allPairs = n * (n - 1) / 2
    // brute-force truth at the same threshold
    val brute = p.select($"p_partkey".as("d1"), $"nm".as("n1"))
      .join(p.select($"p_partkey".as("d2"), $"nm".as("n2")), $"d1" < $"d2")
      .withColumn("dist", levenshtein($"n1", $"n2")).filter($"dist" <= 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = LlmOps.q79(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(brute), "banded output contains a pair above the threshold")
    val recall = (brute & banded).size.toDouble / brute.size
    assert(recall >= 0.8, f"token-band recall vs brute force too low: $recall%.3f")
    assert(banded.size.toLong < allPairs, s"no pruning at all: ${banded.size}")
    // key spread: the (band, token#lenbucket) keys must distribute the
    // corpus (the r2 weakness was a fixed 25-value p_brand key) — many
    // occupied keys, no block holding more than n/4 rows
    val keys = p.select(explode(array(
        concat_ws("#", lit(0), split($"nm", " ").getItem(0),
          (length($"nm") / 4).cast(LongType)),
        concat_ws("#", lit(1), split($"nm", " ").getItem(1),
          (length($"nm") / 4).cast(LongType)))).as("key"))
      .groupBy("key").count().collect().map(_.getLong(1))
    assert(keys.length >= 20, s"only ${keys.length} token-band keys occupied")
    assert(keys.max <= n / 4, s"degenerate block: ${keys.max} of $n rows share one key")
  }

  test("q86 n-gram Jaccard: band keys spread, candidates prune, recall holds") {
    import graft.ops.MinHashDedup.{coeffs, prime}
    val d = graft.core.Tables.t(spark, sfDir, "documents")
    val n = d.count()
    val allPairs = n * (n - 1) / 2
    // (1) the (band, minhash-pair) keys must hash-spread the corpus: at
    // least one distinct key per doc on average, no degenerate bucket
    val keys = d.select(
        graft.functions.CharMinHash.sig($"text", 5, coeffs, prime).as("sig"))
      .filter($"sig".isNotNull)
      .select(explode(array((0 until 4).map(b => concat_ws("_", lit(b),
        element_at($"sig", b * 2 + 1), element_at($"sig", b * 2 + 2))): _*)).as("key"))
      .groupBy("key").count().collect().map(_.getLong(1))
    assert(keys.length >= n.toInt, s"only ${keys.length} band keys for $n docs")
    assert(keys.max <= n / 4, s"degenerate bucket: ${keys.max} of $n docs share one key")
    // (2) candidate generation must prune vs all-pairs (minJaccard = -1
    // keeps every banded candidate)
    val candidates = MinHashDedup.ngramJaccardPairs(
      d, "doc_id", "text", gramN = 5, minJaccard = -1.0).count()
    assert(candidates < allPairs / 10,
      s"banded join barely prunes: $candidates of $allPairs pairs are candidates")
    // (3) recall vs brute-force truth on a bounded subset (banded MinHash
    // is near-lossless for the fixture's ~0.9+ Jaccard duplicate pairs)
    val sub = d.filter($"doc_id" <= 250)
      .select($"doc_id", graft.functions.CharGramHashes.hashes($"text", 5).as("g"))
      .filter($"g".isNotNull)
    val brute = sub.select($"doc_id".as("d1"), $"g".as("g1"))
      .join(sub.select($"doc_id".as("d2"), $"g".as("g2")), $"d1" < $"d2")
      .withColumn("jac", size(array_intersect($"g1", $"g2")).cast("double") /
        size(array_union($"g1", $"g2")))
      .filter($"jac" >= 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = graft.queries.LlmOps.q86(spark, sfDir)
      .filter($"d1" <= 250 && $"d2" <= 250)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(brute), "banded output contains a pair below the threshold")
    assert(brute.nonEmpty, "fixture produced no true near-dup pairs — test is vacuous")
    val recall = (brute & banded).size.toDouble / brute.size
    assert(recall >= 0.8, f"banded recall vs brute force too low: $recall%.3f")
  }

  test("bloom filter probe has no false negatives; pruned join ≡ plain join") {
    import spark.implicits._
    import graft.core.Tables.t
    // (1) expression-level: every inserted key must probe true
    val keys = t(spark, sfDir, "part").filter($"p_size" === 1).select($"p_partkey")
    val bf = keys.stat.bloomFilter("p_partkey", math.max(keys.count(), 1L), 0.01)
    val missed = keys
      .filter(!graft.functions.BloomMightContain.mightContain($"p_partkey", bf))
      .count()
    assert(missed == 0, s"bloom filter dropped $missed of its own keys")
    // (2) operator-level: prune + exact join must equal the plain join
    val small = t(spark, sfDir, "part").filter($"p_size" === 1)
      .select($"p_partkey", $"p_brand")
    val big = t(spark, sfDir, "lineitem").select($"l_partkey", $"l_orderkey")
    val pruned = graft.ops.ScaleJoins
      .bloomPrunedInnerJoin(big, small, "l_partkey", "p_partkey", fpp = 0.01)
      .select($"l_orderkey", $"l_partkey", $"p_brand")
    val plain = big.join(small, $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"l_partkey", $"p_brand")
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty,
      "bloom-pruned join diverges from the plain join")
  }

  test("auto-salting decision flips on a hot key and never changes the join result") {
    // hot: one key holds 90% of the rows; uniform: every key equal
    val hot = ((1 to 900).map(_ => 1L) ++ (2L to 101L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val uniform = (1L to 1000L).map(i => (i % 100, i)).toDF("k", "v")
    val dim = (0L to 101L).map(k => (k, s"g${k % 5}")).toDF("k", "grp")

    val dHot = ScaleJoins.decideSalts(hot, "k")
    assert(dHot.salted && dHot.maxSkew > 4.0,
      s"hot key (skew ${dHot.maxSkew}) must trigger salting: $dHot")
    val dUni = ScaleJoins.decideSalts(uniform, "k")
    assert(!dUni.salted && dUni.maxSkew <= 1.5,
      s"uniform keys (skew ${dUni.maxSkew}) must NOT trigger salting: $dUni")

    // equivalence: auto choice == plain join, under BOTH decisions
    for (left <- Seq(hot, uniform)) {
      val auto = ScaleJoins.autoSaltedInnerJoin(left, dim, "k")
        .select("k", "v", "grp")
      val plain = left.join(dim, Seq("k"), "inner").select("k", "v", "grp")
      assert(auto.exceptAll(plain).isEmpty && plain.exceptAll(auto).isEmpty,
        "auto-salted join diverges from the plain join")
    }
  }

  test("property: saltedDistinctValues equals the direct collect_set for " +
      "arbitrary key/value distributions and salt counts") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.chooseNum(0, 300)
      rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(0L, 40L)))
      salts <- Gen.chooseNum(1, 9)
    } yield (rows, salts)
    for (_ <- 1 to 5; (rows, salts) <- gen.sample) {
      val df = rows.toDF("k", "v")
      val direct = df.groupBy($"k")
        .agg(array_sort(collect_set($"v")).as("values"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val salted = ScaleJoins.saltedDistinctValues(df, "k", "v", salts)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(salted == direct,
        s"salts=$salts diverged on ${rows.size} rows: $salted vs $direct")
    }
  }

  test("IVF index maintenance: folding N appended cell-partitioned index " +
      "segments is byte-invisible to the probe wave; recall drives refit-or-append") {
    import java.nio.file.Files
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val base = e.filter($"vec_id" % 10 =!= 0)
    val root = Files.createTempDirectory("graft_ivf_maint_spec")
    val target = graft.ops.VersionedTarget.Segmented(root,
      partitionCols = Seq("cell"))
    val (baseAssign, cent) =
      Similarity.kmeansFit(base, "vec_id", "embedding", k = 8, iters = 2)
    try target.commit(baseAssign, 0L) finally baseAssign.unpersist(): Unit
    // N=3 appended deltas, each placed into the EXISTING quantizer and
    // committed as its own immutable cell-partitioned segment
    Seq(0, 10, 30).zipWithIndex.foreach { case (r, i) =>
      target.commit(Similarity.assignToCentroids(
        e.filter($"vec_id" % 40 === r), cent, "vec_id", "embedding"), i + 1L)
    }
    def wave(): Seq[org.apache.spark.sql.Row] =
      Similarity.ivfTopK(e.filter($"vec_id" < 20),
          e.join(target.current(spark).get, "vec_id"), Similarity.localize(cent),
          "vec_id", "embedding", k = 3, nprobe = 2)
        .orderBy($"probe_id", $"rn").collect().toSeq
    val before = wave()
    assert(before.nonEmpty)
    val res = target.compact(spark)
    assert(res.isDefined, "4 index segments must fold")
    target.vacuum(1): Unit
    // the fold preserved the hive layout: the compacted segment carries
    // its own cell= partition dirs, so probe-side pruning still applies
    assert(Option(root.resolve(res.get.segment).toFile.listFiles()).toSeq
      .flatten.exists(_.getName.startsWith("cell=")),
      "compacted index segment lost its cell partitioning")
    assert(wave() == before,
      "index compaction changed probe results — must be physical only")
    // trigger rule: measured recall at/above the floor → keep appending;
    // a degraded report → refit
    val healthy = Seq((1L, 3L), (2L, 2L), (3L, 3L)).toDF("probe_id", "n_hits")
    assert(!Similarity.refitDecision(healthy, k = 3, minRecall = 0.8),
      "recall 8/9 must stay on the append path at floor 0.8")
    val degraded = Seq((1L, 1L), (2L, 0L), (3L, 1L)).toDF("probe_id", "n_hits")
    assert(Similarity.refitDecision(degraded, k = 3, minRecall = 0.8),
      "recall 2/9 must demand a refit at floor 0.8")
    intercept[IllegalArgumentException] {
      Similarity.refitDecision(healthy.limit(0), k = 3, minRecall = 0.8)
    }: Unit
  }

  test("IVF index refit: the recovery verb restores recall above the floor, " +
      "serves ONE fresh base, and the manifest quantizer TAG keeps the crash " +
      "window and the append-vs-refit race consistent") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    // q153's drift fixture: clustered corpus, quantizer fit on clusters
    // {0,1} only, appends bring the unseen clusters
    val aug = e.select($"vec_id", concat(Similarity.toDouble($"embedding"),
        array((0 until 5).map(c =>
          when(pmod($"vec_id", lit(5)) === c, lit(1.0)).otherwise(lit(0.0))): _*))
      .as("embedding"))
    val cluster = pmod($"vec_id", lit(5))
    val aroot = Files.createTempDirectory("graft_ivf_refit_a")
    val croot = Files.createTempDirectory("graft_ivf_refit_c")
    val assignT = VersionedTarget.Segmented(aroot, partitionCols = Seq("cell"))
    val centT = VersionedTarget.Rewrite(croot)
    val (baseAssign, cent0) = Similarity.kmeansFit(
      aug.filter(cluster.isin(0, 1)), "vec_id", "embedding", k = 8, iters = 2)
    try {
      centT.commit(cent0, 0L)
      assignT.commit(baseAssign, 0L, tag = Some("v0"))
    } finally baseAssign.unpersist(): Unit
    // materialised locally: the lazy read of v0 would break once the
    // refit's vacuum retires that version below
    val oldCentSrc = Similarity.pairedCentroids(spark, assignT, centT).get
    val oldCent = spark.createDataFrame(
      spark.sparkContext.parallelize(oldCentSrc.collect().toSeq, 1), oldCentSrc.schema)
    Similarity.appendToIndex(aug.filter(cluster.isin(2, 3, 4)),
      "vec_id", "embedding", assignT, centT, 1L)
    assert(assignT.currentTag.contains("v0"),
      "appends must INHERIT the build's quantizer tag")
    def recallOf(): Double = {
      val c = Similarity.pairedCentroids(spark, assignT, centT).get
      val served = Similarity.ivfTopK(aug.filter($"vec_id" < 20),
          aug.join(assignT.current(spark).get, "vec_id"), Similarity.localize(c),
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select($"probe_id", $"cand_id")
      val truth = Similarity.bruteForceTopK(
          aug.filter($"vec_id" < 20), aug, "vec_id", "embedding", k = 3)
        .select($"probe_id", $"cand_id")
      val probes = truth.select($"probe_id").distinct().count()
      truth.join(served, Seq("probe_id", "cand_id")).count().toDouble /
        (probes * 3)
    }
    val degraded = recallOf()
    assert(degraded < 0.8,
      s"drift fixture must degrade recall below the floor, got $degraded")
    // crash-window invariant: centroids commit FIRST; until the rebase
    // lands, the assignment manifest still carries tag v0 — the extra
    // centroid version is inert debris, never silently paired
    centT.commit(Similarity.kmeansFit(aug, "vec_id", "embedding", 8, 2) match {
      case (a, c) => try c finally a.unpersist()
    }, 2L)
    assert(VersionedTarget.currentVersion(croot).contains("v2"))
    assert(assignT.currentTag.contains("v0"),
      "mid-refit serving must still pair the OLD quantizer (manifest tag)")
    assert(Similarity.pairedCentroids(spark, assignT, centT).get
      .collect().toSet == oldCent.collect().toSet)
    VersionedTarget.rmTree(croot.resolve("v2").toFile) // roll the window back
    Files.write(croot.resolve("CURRENT"), "v0".getBytes("UTF-8")): Unit
    // the full verb: refit on the current corpus, fresh base, retire old
    Similarity.refitIndex(aug, "vec_id", "embedding", k = 8, iters = 2,
      assignT, centT, batchId = 2L)
    assignT.vacuum(1): Unit
    centT.vacuum(1): Unit
    assert(VersionedTarget.currentVersion(aroot).contains("v2") &&
      assignT.segmentsOf("v2") == Seq("seg2"),
      "refit must rebase to ONE fresh cell-partitioned segment")
    assert(assignT.currentTag.contains("v2"),
      "the rebase must stamp its own quantizer tag")
    assert(centT.versions == Seq("v2"), "old centroid versions must be retired")
    val restored = recallOf()
    assert(restored >= 0.8,
      s"refit must restore recall to the floor: $degraded -> $restored")
    // idempotency: redelivering the COMPLETED refit is a no-op — no
    // epoch-guard throw, no wasted O(corpus) fit, pointer untouched
    Similarity.refitIndex(aug, "vec_id", "embedding", k = 8, iters = 2,
      assignT, centT, batchId = 2L)
    assert(VersionedTarget.currentVersion(aroot).contains("v2") &&
      centT.versions == Seq("v2"),
      "fully-durable refit redelivery must be a no-op")
    // crash-BETWEEN-commits redelivery: the DURABLE quantizer wins — the
    // corpus is PLACED into the committed centroids, never paired with a
    // fresh fit\'s different quantizer
    centT.commit(oldCent, 3L) // a different (base-fit) quantizer is durable
    Similarity.refitIndex(aug, "vec_id", "embedding", k = 8, iters = 2,
      assignT, centT, batchId = 3L)
    val placed = Similarity.assignToCentroids(aug, oldCent, "vec_id", "embedding")
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    val got = assignT.current(spark).get.select($"vec_id", $"cell")
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    assert(got == placed,
      "mid-window redelivery must place into the committed centroids")
    assert(VersionedTarget.currentVersion(aroot).contains("v3") &&
      assignT.segmentsOf("v3") == Seq("seg3") &&
      assignT.currentTag.contains("v3"))
    // THE APPEND-vs-REFIT RACE: an append places against the served
    // quantizer (v3), a refit lands its rebase in the placement-to-commit
    // window (via the test seam), and the in-transaction tag check must
    // abort the stale commit and RE-PLACE against the new quantizer —
    // never publish old-quantizer cells onto the new base
    var raced = false
    Similarity.appendToIndex(aug.filter($"vec_id" < 0), // empty delta: the
      // mechanics under test are abort-and-re-place, not placement values
      // (those are pinned by the redelivery assertion above)
      "vec_id", "embedding", assignT, centT, batchId = 5L,
      onPlaced = () => if (!raced) {
        raced = true
        Similarity.refitIndex(aug, "vec_id", "embedding", k = 8, iters = 2,
          assignT, centT, batchId = 4L)
      })
    assert(raced, "the seam must have run the racing refit")
    assert(assignT.currentTag.contains("v4"),
      "the landed append must pair with the RACING refit's quantizer")
    assert(VersionedTarget.currentVersion(aroot).contains("v5") &&
      assignT.segmentsOf("v5") == Seq("seg4", "seg5"),
      "the re-placed append must land ON TOP of the refit's fresh base")
  }

  test("streaming index ingest verb (q158): per-batch appends land as " +
      "segments, redelivered micro-batches are skipped, empty ones commit " +
      "empty segments, and the streamed index equals the one-shot placement") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val base = e.filter($"vec_id" % 10 =!= 0)
    val delta = e.filter($"vec_id" % 10 === 0)
    val aroot = Files.createTempDirectory("graft_ivf_stream_a")
    val croot = Files.createTempDirectory("graft_ivf_stream_c")
    val assignT = VersionedTarget.Segmented(aroot, partitionCols = Seq("cell"))
    val centT = VersionedTarget.Rewrite(croot)
    val (baseAssign, cent) = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 8, iters = 2, materialize = false, withVec = true)
    centT.commit(cent, 0L)
    assignT.commit(baseAssign, 0L, tag = Some("v0"))
    val ingest = graft.queries.LlmOps.ingestIndexBatch(assignT, centT) _
    val b0 = delta.filter($"vec_id" % 20 === 0)
    val b1 = delta.filter($"vec_id" % 20 === 10)
    ingest(b0, 0L)
    val afterB0 = VersionedTarget.currentVersion(aroot).get
    ingest(b0, 0L) // redelivered micro-batch: exactly-once skip
    assert(VersionedTarget.currentVersion(aroot).contains(afterB0),
      "a redelivered micro-batch must not advance the index")
    ingest(b1, 1L)
    // an empty slice commits an EMPTY segment: the epoch stays precise
    // (applied() tracks every processed batch) and the common-case batch
    // skips the limit-1 emptiness probe it used to pay; the empty
    // segment adds no rows and folds away at the next compaction
    ingest(delta.limit(0), 2L)
    val ver = VersionedTarget.currentVersion(aroot).get
    assert(assignT.segmentsOf(ver) == Seq("seg0", "seg1", "seg2", "seg3"),
      s"expected base + one segment per batch (incl. the empty one), " +
        s"got ${assignT.segmentsOf(ver)}")
    assert(assignT.applied(3L), "the empty batch must advance the epoch")
    assert(assignT.currentTag.contains("v0"),
      "streamed appends must inherit the build's quantizer tag")
    // batch boundaries cannot change a tag-pinned placement: the streamed
    // index equals placing the WHOLE corpus into the quantizer at once
    val oneShot = Similarity.assignToCentroids(e, cent, "vec_id", "embedding")
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    val streamed = assignT.current(spark).get.select($"vec_id", $"cell")
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    assert(streamed == oneShot,
      "the streamed index diverged from the one-shot placement")
  }

  test("curated streaming ingest verb (q190): verdicts read the EXISTING " +
      "corpus only, a dup arrival never enters the index, keepers land as " +
      "segments, and redelivered micro-batches are skipped") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val existing = e.filter($"vec_id" % 10 =!= 0)
    val delta = e.filter($"vec_id" % 10 === 0)
    val aroot = Files.createTempDirectory("graft_ivf8_cur_a")
    val croot = Files.createTempDirectory("graft_ivf8_cur_c")
    val assignT = VersionedTarget.Segmented(aroot, partitionCols = Seq("cell"))
    val centT = VersionedTarget.Rewrite(croot)
    val (exAssign, cent) = Similarity.kmeansFit(existing, "vec_id",
      "embedding", k = 8, iters = 2, materialize = true, withVec = true)
    try {
      centT.commit(cent, 0L)
      assignT.commit(Similarity.quantizeInt8(exAssign, "vec_id", "embedding"),
        0L, tag = Some("v0"))
      val centLocal = Similarity.localize(cent)
      val ingest = graft.queries.IndexVerbs.ingestCuratedBatch(
        IndexKind.Sq8, assignT, centT, exAssign, centLocal) _
      // plant a GUARANTEED semantic dup: an existing vector re-arriving
      // under a fresh id (cosine 1.0 with its original ≥ any threshold)
      val planted = existing.orderBy($"vec_id".asc).limit(1)
        .select(lit(900001L).as("vec_id"), $"embedding", $"label")
      val b0 = delta.filter($"vec_id" % 20 === 0).union(planted)
      val b1 = delta.filter($"vec_id" % 20 === 10)
      ingest(b0, 0L)
      val afterB0 = VersionedTarget.currentVersion(aroot).get
      ingest(b0, 0L) // redelivered micro-batch: exactly-once skip
      assert(VersionedTarget.currentVersion(aroot).contains(afterB0),
        "a redelivered curated micro-batch must not advance the index")
      ingest(b1, 1L)
      val ver = VersionedTarget.currentVersion(aroot).get
      assert(assignT.segmentsOf(ver) == Seq("seg0", "seg1", "seg2"),
        s"expected base + one keeper segment per batch, got ${assignT.segmentsOf(ver)}")
      // membership = existing ∪ (arrivals \ dups) regardless of the batch
      // schedule — verdicts read the EXISTING corpus only
      val arrivals = delta.union(planted)
      val dupIds = Similarity.semanticCrossPairs(
          Similarity.assignToCentroids(arrivals, centLocal, "vec_id",
            "embedding", withVec = true), exAssign,
          "vec_id", "embedding", minCos6 = 0.4)
        .select($"in_id").collect().map(_.getLong(0)).toSet
      assert(dupIds.contains(900001L),
        "the planted re-arrival must verdict as a semantic dup")
      val members = assignT.current(spark).get.select($"vec_id")
        .collect().map(_.getLong(0)).toSet
      val exIds = existing.select($"vec_id").collect().map(_.getLong(0)).toSet
      val arrIds = arrivals.select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(members == exIds ++ (arrIds -- dupIds),
        "curated membership must be existing + non-dup arrivals exactly")
      assert(!members.contains(900001L),
        "a dup arrival became index-retrievable through the curated gate")
    } finally exAssign.unpersist(): Unit
  }

  test("curated streaming ingest verb on the PQ lifecycle (q198): verdicts " +
      "read the EXISTING corpus only, a dup arrival never enters the coded " +
      "index, keepers land as PQ segments, redeliveries are skipped, and " +
      "the streamed coded index equals the one-shot encoding") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val existing = e.filter($"vec_id" % 10 =!= 0)
    val delta = e.filter($"vec_id" % 10 === 0)
    val aroot = Files.createTempDirectory("graft_pq_cur_a")
    val broot = Files.createTempDirectory("graft_pq_cur_b")
    val assignT = VersionedTarget.Segmented(aroot, partitionCols = Seq("cell"))
    val bundleT = VersionedTarget.Rewrite(broot)
    val (exAssign, coarseDF) = Similarity.kmeansFit(existing, "vec_id",
      "embedding", k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val coarse = Similarity.localize(coarseDF)
      val books = Similarity.pqFit(existing, "vec_id", "embedding",
        dim = 64, m = 4, codes = 16, iters = 2)
      bundleT.commit(Similarity.pqBundleDF(spark, coarse, books), 0L)
      assignT.commit(Similarity.pqEncode(existing, "vec_id", "embedding",
        books, coarse, dim = 64), 0L, tag = Some("v0"))
      val ingest = graft.queries.IndexVerbs.ingestCuratedBatch(
        IndexKind.Pq, assignT, bundleT, exAssign, coarse) _
      // plant a GUARANTEED semantic dup (cosine 1.0 with its original)
      val planted = existing.orderBy($"vec_id".asc).limit(1)
        .select(lit(900001L).as("vec_id"), $"embedding", $"label")
      val b0 = delta.filter($"vec_id" % 20 === 0).union(planted)
      val b1 = delta.filter($"vec_id" % 20 === 10)
      ingest(b0, 0L)
      val afterB0 = VersionedTarget.currentVersion(aroot).get
      ingest(b0, 0L) // redelivered micro-batch: exactly-once skip
      assert(VersionedTarget.currentVersion(aroot).contains(afterB0),
        "a redelivered curated micro-batch must not advance the PQ index")
      ingest(b1, 1L)
      val ver = VersionedTarget.currentVersion(aroot).get
      assert(assignT.segmentsOf(ver) == Seq("seg0", "seg1", "seg2"),
        s"expected base + one keeper segment per batch, got ${assignT.segmentsOf(ver)}")
      assert(assignT.currentTag.contains("v0"),
        "PQ curated appends must inherit the build's bundle tag")
      val arrivals = delta.union(planted)
      val dupIds = Similarity.semanticCrossPairs(
          Similarity.assignToCentroids(arrivals, coarse, "vec_id",
            "embedding", withVec = true), exAssign,
          "vec_id", "embedding", minCos6 = 0.4)
        .select($"in_id").collect().map(_.getLong(0)).toSet
      assert(dupIds.contains(900001L),
        "the planted re-arrival must verdict as a semantic dup")
      val members = assignT.current(spark).get.select($"vec_id")
        .collect().map(_.getLong(0)).toSet
      val exIds = existing.select($"vec_id").collect().map(_.getLong(0)).toSet
      val arrIds = arrivals.select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(members == exIds ++ (arrIds -- dupIds),
        "curated PQ membership must be existing + non-dup arrivals exactly")
      assert(!members.contains(900001L),
        "a dup arrival became index-retrievable through the curated PQ gate")
      // batch boundaries cannot change a tag-pinned code: the streamed
      // coded index equals one-shot-encoding the curated membership
      def key(r: Row): (Long, Long, Seq[Byte]) =
        (r.getAs[Number]("vec_id").longValue,
          r.getAs[Number]("cell").longValue,
          r.getAs[Seq[Byte]]("codes").toVector)
      val keepers = arrivals.filter(!$"vec_id".isin(dupIds.toSeq: _*))
      val oneShot = Similarity.pqEncode(
          existing.unionByName(keepers), "vec_id", "embedding",
          books, coarse, dim = 64)
        .collect().map(key).toSet
      val streamed = assignT.current(spark).get
        .select($"vec_id", $"cell", $"codes")
        .collect().map(key).toSet
      assert(streamed == oneShot,
        "the streamed curated PQ index diverged from the one-shot encoding")
    } finally exAssign.unpersist(): Unit
  }

  test("int8 streaming ingest verb (q165): batches land as quantized " +
      "segments, redeliveries are skipped, the streamed int8 index equals " +
      "the one-shot quantization, and a racing refit re-places the " +
      "quantized payload") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val base = e.filter($"vec_id" % 10 =!= 0)
    val delta = e.filter($"vec_id" % 10 === 0)
    val aroot = Files.createTempDirectory("graft_ivf8_stream_a")
    val croot = Files.createTempDirectory("graft_ivf8_stream_c")
    val assignT = VersionedTarget.Segmented(aroot, partitionCols = Seq("cell"))
    val centT = VersionedTarget.Rewrite(croot)
    val (baseAssign, cent) = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 8, iters = 2, materialize = false, withVec = true)
    centT.commit(cent, 0L)
    assignT.commit(Similarity.quantizeInt8(baseAssign, "vec_id", "embedding"),
      0L, tag = Some("v0"))
    val ingest = graft.queries.IndexVerbs.ingestIndexBatch(IndexKind.Sq8, assignT, centT) _
    val b0 = delta.filter($"vec_id" % 20 === 0)
    val b1 = delta.filter($"vec_id" % 20 === 10)
    ingest(b0, 0L)
    val afterB0 = VersionedTarget.currentVersion(aroot).get
    ingest(b0, 0L) // redelivered micro-batch: exactly-once skip
    assert(VersionedTarget.currentVersion(aroot).contains(afterB0),
      "a redelivered micro-batch must not advance the int8 index")
    ingest(b1, 1L)
    val ver = VersionedTarget.currentVersion(aroot).get
    assert(assignT.segmentsOf(ver) == Seq("seg0", "seg1", "seg2"),
      s"expected base + one int8 segment per batch, got ${assignT.segmentsOf(ver)}")
    assert(assignT.currentTag.contains("v0"),
      "int8 appends must inherit the build's quantizer tag")
    // batch boundaries cannot change a tag-pinned placement OR the
    // per-vector scale rule: the streamed int8 index equals quantizing
    // the one-shot placement of the WHOLE corpus
    def key(r: Row): (Long, Long, Double, Seq[Byte]) =
      (r.getAs[Number]("vec_id").longValue, r.getAs[Number]("cell").longValue,
        r.getAs[Double]("scale"), r.getAs[Seq[Byte]]("qvec").toVector)
    val oneShot = Similarity.quantizeInt8(
        Similarity.assignToCentroids(e, cent, "vec_id", "embedding",
          withVec = true), "vec_id", "embedding")
      .collect().map(key).toSet
    val streamed = assignT.current(spark).get
      .select($"vec_id", $"cell", $"scale", $"qvec")
      .collect().map(key).toSet
    assert(streamed == oneShot,
      "the streamed int8 index diverged from the one-shot quantization")
    // THE REFIT RACE ON THE QUANTIZED PAYLOAD: an int8 append places
    // against the served tag; a racing int8 refit lands its rebase in
    // the placement-to-commit window; the in-transaction tag check must
    // abort and re-place — and the re-placed segment must carry the SQ8
    // shape placed under the NEW quantizer
    var raced = false
    Similarity.appendToIndex(b0, "vec_id", "embedding", assignT, centT,
      batchId = 9L, int8 = true,
      onPlaced = () => if (!raced) {
        raced = true
        Similarity.refitIndex(e, "vec_id", "embedding", k = 8, iters = 2,
          assignT, centT, batchId = 8L, int8 = true)
      })
    assert(raced, "the seam must have run the racing int8 refit")
    assert(assignT.currentTag.contains("v8"),
      "the landed int8 append must pair with the racing refit's quantizer")
    assert(VersionedTarget.currentVersion(aroot).contains("v9") &&
      assignT.segmentsOf("v9") == Seq("seg8", "seg9"),
      "the re-placed int8 append must land ON TOP of the refit's fresh base")
    val newCent = Similarity.pairedQuantizer(spark, assignT, centT).get
    val expectSeg9 = Similarity.quantizeInt8(
        Similarity.assignToCentroids(b0, newCent, "vec_id", "embedding",
          withVec = true), "vec_id", "embedding")
      .collect().map(key).toSet
    // b0's ids live in BOTH v9 segments (the refit base covers the whole
    // corpus); a set compare still pins the payload — it only holds when
    // seg9's re-placed rows agree with the new-quantizer placement
    val gotSeg9 = assignT.current(spark).get
      .filter($"vec_id" % 20 === 0)
      .select($"vec_id", $"cell", $"scale", $"qvec")
      .collect().map(key).toSet
    assert(gotSeg9 == expectSeg9,
      "the re-placed segment must be quantized under the NEW quantizer")
  }

  test("PQ streaming ingest verb (q174): batches land as coded segments, " +
      "redeliveries are skipped, the streamed PQ index equals the " +
      "one-shot encode, and the bundle roundtrips") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val base = e.filter($"vec_id" % 10 =!= 0)
    val delta = e.filter($"vec_id" % 10 === 0)
    val aroot = Files.createTempDirectory("graft_pq_stream_a")
    val broot = Files.createTempDirectory("graft_pq_stream_b")
    val assignT = VersionedTarget.Segmented(aroot, partitionCols = Seq("cell"))
    val bundleT = VersionedTarget.Rewrite(broot)
    val (_, coarseDF) = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 8, iters = 2, materialize = false, withVec = false)
    val coarse = Similarity.localize(coarseDF)
    val books = Similarity.pqFit(base, "vec_id", "embedding",
      dim = 64, m = 4, codes = 16, iters = 2)
    bundleT.commit(Similarity.pqBundleDF(spark, coarse, books), 0L)
    assignT.commit(
      Similarity.pqEncode(base, "vec_id", "embedding", books, coarse, dim = 64),
      0L, tag = Some("v0"))
    // ONE committed version carries the whole quantizer: coarse + all m
    // codebooks must roundtrip through the bundle frame exactly
    // localizedPqBundle returns cell-sorted rows; localize/pqFit return
    // frame order — every consumer is order-insensitive (explicit
    // sortBy in the ADC tables, lowest-cell argmin ties), so the pin is
    // on sorted content
    val (rc, rb) = Similarity.localizedPqBundle(spark, bundleT, "v0")
    assert(rc == coarse.sortBy(_._1),
      "coarse centroids did not roundtrip the bundle")
    assert(rb == books.map(_.sortBy(_._1)),
      "codebooks did not roundtrip the bundle")
    val ingest = graft.queries.IndexVerbs.ingestIndexBatch(IndexKind.Pq, assignT, bundleT) _
    val b0 = delta.filter($"vec_id" % 20 === 0)
    val b1 = delta.filter($"vec_id" % 20 === 10)
    ingest(b0, 0L)
    val afterB0 = VersionedTarget.currentVersion(aroot).get
    ingest(b0, 0L) // redelivered micro-batch: exactly-once skip
    assert(VersionedTarget.currentVersion(aroot).contains(afterB0),
      "a redelivered micro-batch must not advance the PQ index")
    ingest(b1, 1L)
    val ver = VersionedTarget.currentVersion(aroot).get
    assert(assignT.segmentsOf(ver) == Seq("seg0", "seg1", "seg2"),
      s"expected base + one PQ segment per batch, got ${assignT.segmentsOf(ver)}")
    assert(assignT.currentTag.contains("v0"),
      "PQ appends must inherit the build's bundle tag")
    // batch boundaries cannot change a tag-pinned placement: the coarse
    // argmin AND every code argmin of the streamed index equal the
    // one-shot encode of the whole corpus. (The refit-race window is the
    // SAME factored appendWith skeleton the int8/float race rows already
    // pin — no PQ-specific race logic exists to re-test.)
    def key(r: Row): (Long, Seq[Byte], Long) =
      (r.getAs[Number]("vec_id").longValue,
        r.getAs[Seq[Byte]]("codes").toVector,
        r.getAs[Number]("cell").longValue)
    val oneShot = Similarity.pqEncode(e, "vec_id", "embedding", books,
        coarse, dim = 64)
      .collect().map(key).toSet
    val streamed = assignT.current(spark).get
      .select($"vec_id", $"codes", $"cell")
      .collect().map(key).toSet
    assert(streamed == oneShot,
      "the streamed PQ index diverged from the one-shot encode")
  }

  test("quantized takedown + compaction (q176/q177): deleteWhere rewrites " +
      "only the touched segment on BOTH quantized payloads, folds are " +
      "content-identical, and layout + quantizer tag survive") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val base = e.filter($"vec_id" % 10 =!= 0)
    val delta = e.filter($"vec_id" % 10 === 0)
    // revoked set confined to the BASE segment — the delta segment must
    // survive the rewrite BY REFERENCE
    val revoked = ($"vec_id" % 7 === 3) && ($"vec_id" % 10 =!= 0)

    def drive(assignT: VersionedTarget.Segmented,
              payloadCols: Seq[String]): Unit = {
      def content(): Set[Seq[Any]] = assignT.current(spark).get
        .select(($"vec_id" +: payloadCols.map(col)) :+ $"cell": _*)
        .collect().map(_.toSeq.map {
          case b: scala.collection.Seq[_] => b.toVector
          case x => x
        }).toSet
      val before = content()
      val del = assignT.deleteWhere(spark, revoked)
        .getOrElse(fail("takedown must touch at least one segment"))
      assert(del.touched == Seq("seg0"),
        s"only the base segment holds revoked ids, got ${del.touched}")
      val afterDelete = content()
      assert(afterDelete == before.filterNot(r =>
          r.head.asInstanceOf[Long] % 7 == 3 && r.head.asInstanceOf[Long] % 10 != 0),
        "takedown must remove exactly the revoked rows, payload bytes intact")
      assert(assignT.currentTag.contains("v0"),
        "the quantizer tag must survive the takedown rewrite")
      // compaction: physical fold, content- and layout-identical
      val folded = assignT.compact(spark)
        .getOrElse(fail("2-segment post-takedown manifest must fold"))
      assert(content() == afterDelete,
        "compaction changed quantized payload content")
      assert(assignT.currentTag.contains("v0"),
        "the quantizer tag must survive the fold")
      val segDir = assignT.root.resolve(folded.segment).toFile
      assert(Option(segDir.listFiles).getOrElse(Array.empty)
          .exists(f => f.isDirectory && f.getName.startsWith("cell=")),
        "the folded segment must preserve the cell= hive layout")
    }

    // SQ8 payload (q176's artifact)
    val aroot8 = Files.createTempDirectory("graft_td8_a")
    val croot8 = Files.createTempDirectory("graft_td8_c")
    val assignT8 = VersionedTarget.Segmented(aroot8, partitionCols = Seq("cell"))
    val centT8 = VersionedTarget.Rewrite(croot8)
    val (ba8, cent8) = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 8, iters = 2, materialize = false, withVec = true)
    centT8.commit(cent8, 0L)
    assignT8.commit(Similarity.quantizeInt8(ba8, "vec_id", "embedding"),
      0L, tag = Some("v0"))
    Similarity.appendToIndex(delta, "vec_id", "embedding", assignT8, centT8,
      1L, int8 = true)
    drive(assignT8, Seq("qvec", "scale"))

    // PQ payload (q177's artifact)
    val arootP = Files.createTempDirectory("graft_tdpq_a")
    val brootP = Files.createTempDirectory("graft_tdpq_b")
    val assignTP = VersionedTarget.Segmented(arootP, partitionCols = Seq("cell"))
    val bundleTP = VersionedTarget.Rewrite(brootP)
    val (_, coarseDF) = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 8, iters = 2, materialize = false, withVec = false)
    val coarseP = Similarity.localize(coarseDF)
    val booksP = Similarity.pqFit(base, "vec_id", "embedding",
      dim = 64, m = 4, codes = 16, iters = 2)
    bundleTP.commit(Similarity.pqBundleDF(spark, coarseP, booksP), 0L)
    assignTP.commit(Similarity.pqEncode(base, "vec_id", "embedding",
      booksP, coarseP, dim = 64), 0L, tag = Some("v0"))
    Similarity.appendToIndexPq(delta, "vec_id", "embedding", assignTP,
      bundleTP, 1L, dim = 64)
    drive(assignTP, Seq("codes"))
  }

  test("PQ refit verb (q179): the rebase serves ONE fresh tag-paired coded " +
      "base, fully-durable redelivery is a no-op, and a bundle-durable " +
      "crash redelivery re-encodes with the COMMITTED bundle") {
    import java.nio.file.Files
    import graft.ops.VersionedTarget
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val base = e.filter($"vec_id" % 10 =!= 0)
    val aroot = Files.createTempDirectory("graft_pq_refit_a")
    val broot = Files.createTempDirectory("graft_pq_refit_b")
    val assignT = VersionedTarget.Segmented(aroot, partitionCols = Seq("cell"))
    val bundleT = VersionedTarget.Rewrite(broot)
    val (_, coarseDF) = Similarity.kmeansFit(base, "vec_id", "embedding",
      k = 8, iters = 2, materialize = false, withVec = false)
    val coarse0 = Similarity.localize(coarseDF)
    val books0 = Similarity.pqFit(base, "vec_id", "embedding",
      dim = 64, m = 4, codes = 16, iters = 2)
    bundleT.commit(Similarity.pqBundleDF(spark, coarse0, books0), 0L)
    assignT.commit(Similarity.pqEncode(base, "vec_id", "embedding",
      books0, coarse0, dim = 64), 0L, tag = Some("v0"))
    // the verb: re-fit the whole bundle on the CURRENT corpus, fresh base
    Similarity.refitIndexPq(e, "vec_id", "embedding", k = 8, iters = 2,
      dim = 64, m = 4, codes = 16, assignT, bundleT, batchId = 2L)
    assert(VersionedTarget.currentVersion(aroot).contains("v2") &&
      assignT.segmentsOf("v2") == Seq("seg2"),
      "PQ refit must rebase to ONE fresh coded segment")
    assert(assignT.currentTag.contains("v2"),
      "the rebase must stamp the new bundle's tag")
    // the rebased codes equal the one-shot encode with the new bundle
    val (c2, b2) = Similarity.localizedPqBundle(spark, bundleT, "v2")
    def key(r: Row): (Long, Seq[Byte], Long) =
      (r.getAs[Number]("vec_id").longValue,
        r.getAs[Seq[Byte]]("codes").toVector,
        r.getAs[Number]("cell").longValue)
    val expect = Similarity.pqEncode(e, "vec_id", "embedding", b2, c2,
      dim = 64).collect().map(key).toSet
    assert(assignT.current(spark).get.select($"vec_id", $"codes", $"cell")
        .collect().map(key).toSet == expect,
      "the rebased base must be the one-shot encode under the new bundle")
    // fully-durable redelivery: no-op (no wasted fit, pointer untouched)
    Similarity.refitIndexPq(e, "vec_id", "embedding", k = 8, iters = 2,
      dim = 64, m = 4, codes = 16, assignT, bundleT, batchId = 2L)
    assert(VersionedTarget.currentVersion(aroot).contains("v2"),
      "fully-durable PQ refit redelivery must be a no-op")
    // crash-BETWEEN-commits redelivery: the DURABLE bundle wins — the
    // corpus is re-encoded with it, never paired with a fresh fit's
    // different codebooks. Make the durable bundle distinguishable: the
    // BASE fit's bundle (differs from a whole-corpus fit's)
    bundleT.commit(Similarity.pqBundleDF(spark, coarse0, books0), 3L)
    Similarity.refitIndexPq(e, "vec_id", "embedding", k = 8, iters = 2,
      dim = 64, m = 4, codes = 16, assignT, bundleT, batchId = 3L)
    val expect3 = Similarity.pqEncode(e, "vec_id", "embedding",
      books0.map(_.sortBy(_._1)), coarse0.sortBy(_._1), dim = 64)
      .collect().map(key).toSet
    assert(assignT.current(spark).get.select($"vec_id", $"codes", $"cell")
        .collect().map(key).toSet == expect3,
      "mid-window redelivery must encode with the COMMITTED bundle")
    assert(VersionedTarget.currentVersion(aroot).contains("v3") &&
      assignT.currentTag.contains("v3"))
  }

  test("quantizeInt8 drops zero vectors LOUDLY: the counter reports them, " +
      "the index excludes them, and the served wave never returns them") {
    val dim = 4
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // unrepresentable: scale = 0
      (3L, Array(-1.0f, 0.5f, 0.25f, -0.125f)),
      (4L, Array(0.25f, 1.0f, -0.5f, 0.125f))
    ).toDF("vec_id", "embedding").withColumn("cell", lit(0L))
    assert(Similarity.countZeroVectors(df, "embedding") == 1L)
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    val q8 = try {
      System.setErr(new java.io.PrintStream(buf, true))
      Similarity.quantizeInt8(df, "vec_id", "embedding", warnOnDrops = true)
    } finally System.setErr(old)
    assert(new String(buf.toByteArray).contains("DROPPED 1 zero vector"),
      "warnOnDrops must log the drop count loudly")
    assert(q8.select("vec_id").as[Long].collect().toSet == Set(1L, 3L, 4L),
      "the zero vector must drop out of the int8 index")
    // candidacy consequence: even at prefetch = |corpus| the dropped id
    // can never be returned — the wave reads only the index
    val cent = Seq((0L, Seq.fill(dim)(0.1)))
    val served = IndexKind.Sq8Served(q8, cent)
      .topK(df, df.filter($"vec_id" === 1L), k = 3, prefetch = 4, nprobe = 1)
      .select("cand_id").as[Long].collect().toSet
    assert(!served.contains(2L), "a dropped zero vector was served")
    assert(served == Set(3L, 4L),
      s"the remaining candidates must all serve, got $served")
  }

  test("pqEncode drops zero vectors LOUDLY (the quantizeInt8 rule): the " +
      "index excludes them and the ADC wave never returns a NaN-score row") {
    val dim = 4
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // unservable: cos = 0/0 = NaN
      (3L, Array(-1.0f, 0.5f, 0.25f, -0.125f)),
      (4L, Array(0.25f, 1.0f, -0.5f, 0.125f))
    ).toDF("vec_id", "embedding")
    val coarse = Seq((0L, Seq.fill(dim)(0.1)))
    val books = Seq(Seq((1L, Seq(0.1, 0.1)), (2L, Seq(-0.1, -0.1))),
      Seq((1L, Seq(0.1, 0.1)), (2L, Seq(-0.1, -0.1))))
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    val pq = try {
      System.setErr(new java.io.PrintStream(buf, true))
      Similarity.pqEncode(df, "vec_id", "embedding", books, coarse,
        dim = dim, warnOnDrops = true)
    } finally System.setErr(old)
    assert(new String(buf.toByteArray).contains("DROPPED 1 zero vector"),
      "warnOnDrops must log the drop count loudly")
    assert(pq.select("vec_id").as[Long].collect().toSet == Set(1L, 3L, 4L),
      "the zero vector must drop out of the PQ index")
    // without the drop, the zero vector's exact re-rank score would be
    // NaN, which a descending sort ranks FIRST — the wave must return
    // only real candidates even at prefetch = |corpus|
    val served = IndexKind.PqServed(pq, coarse, books)
      .topK(df, df.filter($"vec_id" === 1L), k = 3, prefetch = 100, nprobe = 1)
      .select("cand_id").as[Long].collect().toSet
    assert(!served.contains(2L), "a dropped zero vector was served")
    assert(served == Set(3L, 4L),
      s"the remaining candidates must all serve, got $served")
  }

  test("Components releases every cache it creates (job-server hygiene)") {
    import org.apache.spark.sql.graft.CacheProbe
    spark.catalog.clearCache()
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val nodes = (1L to 12L).toDF("id")
    // the returned frame must BE the persisted entry (not a projection
    // over it) or release() is a silent no-op — the r7 regression
    val cs = Components.clustersWithSize(edges, nodes)
    assert(cs.count() == 12)
    assert(cs.storageLevel.useMemory,
      "clustersWithSize must hand back the persisted frame itself")
    Components.release(cs)
    assert(CacheProbe.cacheIsEmpty(spark),
      "cache entries survived a clustersWithSize run + release")
    val fix = Components.minLabelFixpoint(edges, nodes)
    val r2 = Components.minLabelRounds(edges, nodes, 2)
    val con = Components.contractComponents(edges, nodes)
    assert(fix.storageLevel.useMemory && r2.storageLevel.useMemory
        && con.storageLevel.useMemory,
      "every Components driver must hand back the persisted frame itself")
    Components.release(fix)
    Components.release(r2)
    Components.release(con)
    assert(CacheProbe.cacheIsEmpty(spark),
      "a Components driver left cache entries after release")
  }

  test("banded Hamming pairs: the declared hot-band df cap drops degenerate " +
      "buckets from candidacy; true near-dups still pair through live bands") {
    import graft.sources.Multimodal
    // Degenerate corpus (the flat-color / silent-clip collapse): bands
    // 0 and 1 are globally constant across all 40 fingerprints, so both
    // buckets have df = 40 — without the cap every one of the C(40,2) =
    // 780 ordered pairs is a CANDIDATE through them. Bands 2-7 carry
    // the real signal.
    def h(b2to7: Seq[Long]): Long =
      b2to7.zipWithIndex.map { case (v, i) => (v & 255L) << ((i + 2) * 8) }.sum
    val rows: Seq[(String, Long)] = Seq(
      // E/F: Hamming 1 (one bit in band 2), share LIVE bands 3-7 (df=2)
      ("E", h(Seq(10, 90, 91, 92, 93, 94))),
      ("F", h(Seq(11, 90, 91, 92, 93, 94))),
      // C/D: Hamming 6 (one bit in EACH of bands 2-7) — their only
      // shared bands are the two degenerate ones, so the cap must drop
      // the pair even though it passes the Hamming filter
      ("C", h(Seq(20, 30, 40, 50, 60, 70))),
      ("D", h(Seq(21, 31, 41, 51, 61, 71)))) ++
      (0 until 36).map(i => (f"z$i%02d",
        h(Seq(100 + i, 130 + i, 160 + i, 190 + i, 220 + i, (i * 37 + 3) % 256))))
    val fps = rows.toMap
    val df = rows.toDF("fname", "afp").withColumn("dfp", col("afp"))
    def pairsAt(maxDf: Int): Set[(String, String)] =
      graft.core.CacheScope.scoped {
        Multimodal.bandedHammingPairs(df, "fname", "afp", "dfp",
            maxHamming = 6, maxDf = maxDf)
          .select(col("d1"), col("d2")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      }
    val names = rows.map(_._1).sorted
    // the rule, mirrored independently: candidate iff SOME shared band
    // value has df <= the scale-aware effective cap
    // max(floor, ceil(HotBandFactor·n/256)); pair iff candidate AND
    // Hamming <= 6 (at n = 40 the corpus term is 1, so effCap == floor)
    def effCap(floor: Int): Long = math.max(floor.toLong,
      math.ceil(Multimodal.HotBandFactor.toDouble * names.size / 256.0).toLong)
    def dfOf(band: Int, bv: Long): Int =
      names.count(n => ((fps(n) >> (band * 8)) & 255L) == bv)
    def reference(cap: Int): Set[(String, String)] = (for {
      a <- names; b <- names if a < b
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 6
      if (0 until 8).exists { band =>
        val va = (fps(a) >> (band * 8)) & 255L
        va == ((fps(b) >> (band * 8)) & 255L) && dfOf(band, va) <= effCap(cap)
      }
    } yield (a, b)).toSet
    val capped = pairsAt(12)
    assert(capped == reference(12),
      s"capped banded join diverged from the declared rule: " +
        s"missed ${(reference(12) -- capped).take(5)} " +
        s"fabricated ${(capped -- reference(12)).take(5)}")
    assert(capped.contains(("E", "F")),
      "a true near-dup sharing live bands must survive the cap")
    assert(!capped.contains(("C", "D")),
      "a pair whose only shared bands are degenerate must be dropped")
    // cap off == the recall-complete all-pairs reference (C/D reappear)
    val uncapped = pairsAt(Int.MaxValue)
    assert(uncapped == reference(Int.MaxValue) && uncapped.contains(("C", "D")),
      "without the cap the join must be recall-complete at Hamming <= 6")
  }

  test("banded Hamming pairs PROPERTY: for random correlated fingerprints " +
      "and any cap, the capped join equals the declared rule exactly " +
      "(candidate iff SOME shared band's bucket survives the df cap)") {
    import graft.sources.Multimodal
    val genCorpus = for {
      bases <- Gen.listOfN(6, Gen.chooseNum(Long.MinValue, Long.MaxValue))
      flips <- Gen.listOfN(12, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 63)))
    } yield bases.zipWithIndex.map { case (h, i) => (f"b$i%02d", h) } ++
      flips.zipWithIndex.map { case ((b, bit), i) =>
        (f"v$i%02d", bases(b) ^ (1L << bit)) // near-dups of their base
      }
    for ((corpus, cap) <- samples(Gen.zip(genCorpus, Gen.oneOf(1, 2, 3, 18)), 4)) {
      val fps = corpus.toMap
      val names = corpus.map(_._1).sorted
      // effective cap = max(floor, ceil(HotBandFactor·n/256)) — the
      // corpus term is 1 at these sizes, so effCap == the drawn floor
      val effCap = math.max(cap.toLong,
        math.ceil(Multimodal.HotBandFactor.toDouble * names.size / 256.0).toLong)
      def dfOf(band: Int, bv: Long): Int =
        names.count(n => ((fps(n) >> (band * 8)) & 255L) == bv)
      val expected = (for {
        a <- names; b <- names if a < b
        if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 6
        if (0 until 8).exists { band =>
          val va = (fps(a) >> (band * 8)) & 255L
          va == ((fps(b) >> (band * 8)) & 255L) && dfOf(band, va) <= effCap
        }
      } yield (a, b)).toSet
      val got = graft.core.CacheScope.scoped {
        Multimodal.bandedHammingPairs(
            corpus.toDF("fname", "afp").withColumn("dfp", col("afp")),
            "fname", "afp", "dfp", maxHamming = 6, maxDf = cap)
          .select(col("d1"), col("d2")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      }
      assert(got == expected,
        s"cap=$cap diverged from the rule: missed ${(expected -- got).take(5)} " +
          s"fabricated ${(got -- expected).take(5)}")
    }
  }

  test("banded Hamming pairs AT SCALE: the df cap tracks corpus size — a " +
      "uniform 4096-fingerprint corpus (every bucket df = 16 > the old " +
      "absolute 12) keeps FULL recall under the scale-aware cap") {
    import graft.sources.Multimodal
    // 256 groups × 16 members; group g's fingerprint has band-b byte
    // (g + 31·b) % 256, so EVERY (band, bv) bucket has df exactly 16.
    // Under the retired absolute cap (12) every bucket would be hot and
    // candidacy would collapse to ZERO pairs — the failure mode the
    // scale-aware rule exists to prevent: effCap =
    // max(12, ceil(4·4096/256)) = 64, so every bucket stays live.
    def fpOf(g: Int): Long =
      (0 until 8).map(b => ((g + 31 * b) % 256).toLong << (b * 8)).sum
    val rows = for (g <- 0 until 256; m <- 0 until 16)
      yield (f"g$g%03d_m$m%02d", fpOf(g))
    val n = rows.size
    assert(n == 4096)
    val effCap = math.max(12L,
      math.ceil(Multimodal.HotBandFactor.toDouble * n / 256.0).toLong)
    assert(effCap == 64L && effCap > 16L,
      "fixture must sit in the regime where the absolute cap would drop " +
        "every bucket but the scale-aware cap keeps them all")
    // within-group members are IDENTICAL (Hamming 0); cross-group pairs
    // differ in all 8 bands (>= 1 bit each), so Hamming >= 8 > 6 — the
    // expected output is exactly the C(16,2) ordered pairs per group
    val got = graft.core.CacheScope.scoped {
      Multimodal.bandedHammingPairs(
          rows.toDF("fname", "afp").withColumn("dfp", col("afp")),
          "fname", "afp", "dfp", maxHamming = 6)
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    val expected = (for {
      g <- 0 until 256; a <- 0 until 16; b <- (a + 1) until 16
    } yield (f"g$g%03d_m$a%02d", f"g$g%03d_m$b%02d")).toSet
    assert(got.size == 256 * 120 && got == expected,
      s"scale-aware cap lost recall at n=4096: got ${got.size} of " +
        s"${expected.size} within-group pairs")
  }
}
