package graft

/** The SparkSessionExtensions registration path: custom expressions
  * callable from SQL text (the shared session installs
  * [[graft.functions.GraftExtensions]] at build time).
  */
class ExtensionsSpec extends SparkSpec {

  test("vec_dot and word_shingles are callable from spark.sql") {
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql(
      "SELECT word_shingles('the quick brown fox', 3) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("the quick brown", "quick brown fox"))
  }

  test("the full native family is SQL-callable: tokens, char_grams, simhash_fp, rolling_fp") {
    val toks = spark.sql("SELECT tokens('Hello, WORLD 42!') AS t")
      .head().getSeq[String](0)
    assert(toks == Seq("hello", "world", "42"))
    val grams = spark.sql("SELECT char_grams('abcdef', 5) AS g")
      .head().getSeq[String](0)
    assert(grams == Seq("abcde", "bcdef"))
    val fp = spark.sql("SELECT simhash_fp('the quick brown fox', 16) AS f")
      .head().getLong(0)
    assert(fp >= 0L && fp < 65536L)
    val rf = spark.sql(
      "SELECT rolling_fp('one two three four five', 3, 2).n_windows AS n")
      .head().getLong(0)
    assert(rf == 3L)
    // a foldable size expression is constant-evaluated
    val g2 = spark.sql("SELECT char_grams('abcdef', length('xx') + 3) AS g")
      .head().getSeq[String](0)
    assert(g2 == Seq("abcde", "bcdef"))
    // a per-row (non-literal) size argument is rejected, not misparsed
    val err = intercept[Exception](
      spark.sql("SELECT char_grams('abc', n) AS g FROM VALUES (5) AS t(n)")
        .collect())
    assert(err.getMessage.contains("literal") || err.toString.contains("literal"))
  }

  test("native Tokens ≡ the HOF filter(split(lower)) formulation on arbitrary text") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import spark.implicits._
    val weird = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf(
        Gen.alphaNumChar.map(_.toString), Gen.const(" "), Gen.const("\t"),
        Gen.const("é"), Gen.const("中"), Gen.const("𝕏"),
        Gen.const("!"), Gen.const("Ü"))).map(_.mkString))
    val supp = "𝕏" // 𝕏 (U+1D54F, outside the BMP)
    val samples = (1 to 80).flatMap(_ => weird.sample) :+
      "" :+ "  " :+ "a" :+ "Hello, WORLD!  42x " :+ s"$supp$supp mixed${supp}runs7"
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "t")
      .select($"id",
        graft.ops.TextOps.tokens($"t").as("native"),
        filter(split(lower($"t"), "[^a-z0-9]+"), x => x =!= "").as("hof"))
    val bad = df.filter(not($"native" <=> $"hof")).collect()
    assert(bad.isEmpty, s"Tokens mismatch on ${bad.take(3).mkString("; ")}")
  }

  test("native CharGrams ≡ the HOF substr-over-sequence formulation on arbitrary text") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import spark.implicits._
    val weird = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf(
        Gen.alphaNumChar.map(_.toString), Gen.const(" "), Gen.const("\t"),
        Gen.const("é"), Gen.const("中"), Gen.const("𝕏"),
        Gen.const("!"), Gen.const("Ü"))).map(_.mkString))
    val samples = (1 to 80).flatMap(_ => weird.sample) :+
      "" :+ "  " :+ "abcd" :+ "abcde" :+ "Hello, WORLD!  42x " :+ "𝕏ab𝕏cd𝕏ef"
    val norm = trim(regexp_replace(lower($"t"), "[^a-z0-9]+", " "))
    val hof = when(length(norm) >= 5,
      array_sort(array_distinct(transform(
        sequence(lit(1), length(norm) - 4), i => norm.substr(i, lit(5))))))
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "t")
      .select($"id",
        graft.functions.CharGrams.grams($"t", 5).as("native"), hof.as("hof"))
    val bad = df.filter(not($"native" <=> $"hof")).collect()
    assert(bad.isEmpty, s"CharGrams mismatch on ${bad.take(3).mkString("; ")}")
  }

  test("CharGramHashes ≡ sorted distinct hash32 over CharGrams; SortedOverlapCount ≡ array_intersect size") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val samples = Seq("the quick brown fox", "the quick brown cat",
      "aaaaa bbbbb aaaaa", "abcd", "", "Hello, WORLD! of text dedup")
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "t")
      .select($"id",
        graft.functions.CharGramHashes.hashes($"t", 5).as("native"),
        graft.functions.CharGrams.grams($"t", 5).as("g"))
      .withColumn("viaGrams", when($"g".isNotNull, array_sort(array_distinct(
        transform($"g", g =>
          conv(substring(md5(g), 1, 8), 16, 10).cast("long"))))))
    val bad = df.filter(not($"native" <=> $"viaGrams")).collect()
    assert(bad.isEmpty, s"CharGramHashes mismatch: ${bad.take(3).mkString("; ")}")
    // overlap count by linear merge ≡ intersect size, on every sample pair
    val pairs = df.select($"id".as("i1"), $"native".as("a"))
      .join(df.select($"id".as("i2"), $"native".as("b")), $"i1" < $"i2")
      .filter($"a".isNotNull && $"b".isNotNull)
      .select(
        graft.functions.SortedOverlapCount.overlap($"a", $"b").as("native"),
        size(array_intersect($"a", $"b")).as("viaIntersect"))
    assert(pairs.filter($"native" =!= $"viaIntersect").count() == 0)
  }

  test("native CharMinHash ≡ permutation minima over the CharGrams set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.MinHashDedup.{coeffs, prime}
    val samples = Seq("the quick brown fox", "aaaaa aaaaa aaaaa",
      "Hello, WORLD! of text dedup", "abcd", "")
    val rows = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "t")
      .select($"id",
        graft.functions.CharGrams.grams($"t", 5).as("g"),
        graft.functions.CharMinHash.sig($"t", 5, coeffs, prime).as("sig"))
      .collect()
    def h32(g: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2), "grams null but sig not")
      else {
        val grams = r.getSeq[String](1)
        val expected = coeffs.map { case (a, b) =>
          grams.map(g => (a * h32(g) + b) % prime).min }
        assert(r.getSeq[Long](2) == expected, s"sig mismatch for id=${r.getLong(0)}")
      }
    }
  }

  test("RollingFp stays non-negative and exact for large k (Horner mod reduction)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val M = BigInt(2147483647L)
    def tokens(text: String): Seq[String] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toSeq
    def h(tok: String): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      BigInt(((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL))
    }
    // Exact reference: unbounded-integer polynomial window hashes.
    def expected(text: String, k: Int, bottom: Int): (Long, String) = {
      val hs = tokens(text).map(h)
      val ws = hs.sliding(k).filter(_.size == k).map { w =>
        w.zipWithIndex.map { case (x, j) => x * BigInt(257).pow(k - 1 - j) }
          .sum.mod(M).toLong
      }.toSeq
      (ws.size.toLong, ws.sorted.take(bottom).mkString(","))
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "one two three four five six seven eight nine ten eleven twelve",
      (1 to 40).map(i => s"w$i").mkString(" "))
    for (k <- Seq(3, 5, 8, 12)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
        .select($"id", $"t",
          graft.functions.RollingFp.fp($"t", k, 4).as("r"))
        .select($"id", $"t", $"r.n_windows".as("n"), $"r.fp".as("fp"))
      df.collect().foreach { row =>
        val (en, efp) = expected(row.getString(1), k, 4)
        assert(row.getLong(2) == en, s"k=$k window count")
        assert(row.getString(3) == efp, s"k=$k fp for id=${row.getLong(0)}")
        assert(row.getString(3).split(",").forall(_.toLong >= 0L), s"k=$k negative fp")
      }
    }
  }

  test("the dedup-pipeline family is SQL-callable and equals its Column twins: " +
      "minhash_sig, char_minhash, char_gram_hashes, sorted_overlap, " +
      "count_in_list, bloom_might_contain") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.MinHashDedup.{coeffs, prime}
    val samples = Seq("the quick brown fox jumps over the lazy dog",
      "the quick brown cat naps under the lazy dog",
      "Hello, WORLD! of text dedup", "abcd", "")
    samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "t")
      .createOrReplaceTempView("graft_ext_docs")
    // SQL text resolves to the same expressions (engine permutation bank
    // baked into the SQL forms) — results must be column-for-column equal
    val viaSql = spark.sql(
      """SELECT id, minhash_sig(t, 3) AS ws, char_minhash(t, 5) AS cs,
        |       char_gram_hashes(t, 5) AS gh
        |FROM graft_ext_docs""".stripMargin)
    val viaCols = spark.table("graft_ext_docs").select($"id",
      graft.functions.MinHashSig.sig($"t", 3, coeffs, prime).as("ws"),
      graft.functions.CharMinHash.sig($"t", 5, coeffs, prime).as("cs"),
      graft.functions.CharGramHashes.hashes($"t", 5).as("gh"))
    assert(viaSql.orderBy($"id").collect().toSeq ==
      viaCols.orderBy($"id").collect().toSeq,
      "SQL-text and Column-API expressions diverged")
    // sorted_overlap over the SQL-derived hash sets
    val ov = spark.sql(
      """SELECT sorted_overlap(a.gh, b.gh) AS o,
        |       size(array_intersect(a.gh, b.gh)) AS ref
        |FROM (SELECT char_gram_hashes(t, 5) AS gh FROM graft_ext_docs WHERE id = 0) a,
        |     (SELECT char_gram_hashes(t, 5) AS gh FROM graft_ext_docs WHERE id = 1) b""".stripMargin)
      .head()
    assert(ov.getInt(0) == ov.getInt(1) && ov.getInt(0) > 0,
      s"sorted_overlap wrong: $ov")
    // count_in_list takes a literal word array; per-row lists are rejected
    val cil = spark.sql(
      "SELECT count_in_list(tokens('the cat and the dog'), array('the', 'and')) AS c")
      .head().getInt(0)
    assert(cil == 3, s"count_in_list wrong: $cil")
    // a NULL element in the literal word array is the function's own
    // clean error, not an opaque resolution-time NPE
    val nullErr = intercept[Exception](
      spark.sql("SELECT count_in_list(tokens('a b'), array('a', NULL)) AS c")
        .collect())
    assert(nullErr.getMessage.contains("NULL") ||
      nullErr.toString.contains("NULL"), s"wrong error: $nullErr")
    // bloom_might_contain takes the serialized filter as a binary literal
    val bf = spark.range(0, 50).toDF("id").stat.bloomFilter("id", 50, 0.03)
    val hex = graft.functions.BloomMightContain.serialize(bf)
      .map("%02X".format(_)).mkString
    val bl = spark.sql(
      s"""SELECT id, bloom_might_contain(id, X'$hex') AS hit
         |FROM VALUES (7L), (4999L) AS t(id)""".stripMargin)
      .orderBy($"id").collect()
    assert(bl(0).getBoolean(1), "member must hit the bloom filter")
    // (non-members may rarely false-positive; 4999 not asserted)
  }

  test("native CountInList ≡ size(filter(isInCollection)) incl. multiplicity") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import spark.implicits._
    val words = Seq("the", "a", "of", "and", "is")
    val tokGen = Gen.listOf(Gen.oneOf(
      Gen.oneOf(words), Gen.alphaLowerStr.suchThat(_.nonEmpty)))
    val samples = (1 to 80).flatMap(_ => tokGen.sample) :+
      List() :+ List("the", "the", "the") :+ List("THE")
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "toks")
      .select($"id",
        graft.functions.CountInList.countIn($"toks", words).as("native"),
        size(filter($"toks", t => t.isInCollection(words))).as("hof"))
    val bad = df.filter($"native" =!= $"hof").collect()
    assert(bad.isEmpty, s"CountInList mismatch: ${bad.take(3).mkString("; ")}")
  }

  test("CentroidMatrix is the same matrix whatever order its centroids arrive in") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.NearestCell
    // cells 3 and 8 share a vector, so every probe near it is a tie
    val cent = Seq(
      5L -> Seq(0.0, 1.0), 3L -> Seq(2.0, 2.0), 11L -> Seq(-1.0, 0.5),
      8L -> Seq(2.0, 2.0), 1L -> Seq(0.25, -3.0))
    val shuffled = Seq(cent(3), cent(0), cent(4), cent(1), cent(2))
    val a = NearestCell.matrixOf(cent)
    val b = NearestCell.matrixOf(shuffled)
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.cells.toSeq == Seq(1L, 3L, 5L, 8L, 11L))
    val probes = Seq(Seq(2.0, 2.0), Seq(0.0, 0.0), Seq(1.9, 2.1), Seq(-5.0, 9.0))
    probes.foreach { p =>
      val v = new GenericArrayData(p.map(_.asInstanceOf[Any]).toArray)
      assert(a.nearest(v, isFloat = false) == b.nearest(v, isFloat = false))
      assert(a.ranked(v, isFloat = false, 5).toLongArray().toSeq ==
        b.ranked(v, isFloat = false, 5).toLongArray().toSeq)
    }
    val tie = new GenericArrayData(Array[Any](2.0, 2.0))
    assert(b.nearest(tie, isFloat = false) == 3L)
    assert(b.ranked(tie, isFloat = false, 2).toLongArray().toSeq == Seq(3L, 8L))
  }

  test("an empty quantizer is refused when its cell expression is built") {
    val v = org.apache.spark.sql.functions.col("v")
    intercept[IllegalArgumentException](graft.functions.NearestCell.nearest(v, Seq.empty))
    intercept[IllegalArgumentException](graft.functions.NearestCell.ranked(v, Seq.empty, 2))
  }
}
