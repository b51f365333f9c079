package graft.functions

import graft.SparkSpec
import graft.core.{Tables => T}
import graft.scale.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native codegen expressions must be bit-identical to their
  * expression-combinator reference formulations — verified over real data.
  */
class NativeExpressionsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val Prime = 2147483647L

  /** Deterministic affine hash family seeds (a_i, b_i), i in [0, numPerm). */
  private def perms(numPerm: Int): Seq[(Long, Long)] =
    (0 until numPerm).map { i =>
      // splitmix64-style spread of the index — fixed, reproducible
      val a = 1L + 2654435761L * (i + 1) % (Prime - 1)
      val b = 2246822519L * (i + 1) % Prime
      (a % (Prime - 1) + 1, b)
    }

  /** MinHash signature (array<bigint> of length numPerm) over pre-hashed
    * shingles. h_i(x) = (a_i * x + b_i) mod p with x < 2^31: keeps a_i * x
    * within Long range (exact math, no wrap), so signatures are identical
    * on any engine. The HOF reference the native kernel must match.
    */
  private def minhashSignature(hashedShingles: Column, numPerm: Int = 64): Column = {
    val sigs = perms(numPerm).map { case (a, b) =>
      array_min(transform(hashedShingles, x => pmod(x * a + b, lit(Prime))))
    }
    array(sigs: _*)
  }

  test("native minhash == HOF minhash on the documents table") {
    val docs = T.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("th", transform(col("toks"), t => xxhash64(t)))
      .withColumn("sh", Dedup.hashedShingles(col("th"), 3))
      .withColumn("xs", transform(col("sh"), x => pmod(x, lit(2147483647L))))
    val both = docs
      .withColumn("hof", minhashSignature(col("xs"), 64))
      .withColumn("native", NativeExpressions.minhash_signature(col("xs"), 64))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    assert(both.count() == 500)
  }

  test("native cosine == HOF cosine on the embeddings table (bit-exact)") {
    val emb = T.embeddings(spark, sf)
      .select(Similarity.toDouble(col("embedding")).as("v"))
    val pairs = emb.limit(30).withColumn("k", lit(1)).as("a")
      .join(emb.limit(30).withColumn("k", lit(1)).as("b"), "k")
    val both = pairs.select(
      Similarity.cosine(col("a.v"), col("b.v")).as("hof"),
      Similarity.cosineNative(col("a.v"), col("b.v")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("native cosine accepts float arrays directly") {
    val emb = T.embeddings(spark, sf).limit(5)
    val got = emb.as("a").crossJoin(emb.as("b"))
      .select(NativeExpressions.cosine_similarity(
        col("a.embedding"), col("b.embedding")).as("sim"),
        (col("a.vec_id") === col("b.vec_id")).as("same"))
      .collect()
    got.foreach { r =>
      val sim = r.getDouble(0)
      assert(sim >= -1.0001 && sim <= 1.0001)
      if (r.getBoolean(1)) assert(math.abs(sim - 1.0) < 1e-6)
    }
  }

  test("native simhash == HOF simhash on the documents table") {
    val docs = T.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val both = docs
      .withColumn("hof", Dedup.simhash(col("toks")))
      .withColumn("native", Dedup.simhashNative(col("toks")))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    assert(both.count() == 500)
  }

  test("simhash codegen and interpreted paths agree; empty/odd-count inputs") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import spark.implicits._
    for (input <- Seq(Seq.empty[Long], Seq(-1L), Seq(7L, -7L), Seq(1L, 2L, 3L, Long.MinValue))) {
      val expr = SimHash64(Literal.create(new GenericArrayData(input.toArray),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
      val interp = expr.eval(null).asInstanceOf[Long]
      val viaDf = Seq(input).toDF("th")
        .select(NativeExpressions.simhash64(col("th")).as("h"))
        .collect().head.getLong(0)
      assert(interp == viaDf, s"mismatch on $input")
    }
  }

  test("hashed fingerprint == min over distinct hashed shingles (multiset min)") {
    // fingerprintFromHashes skips array_distinct; min(multiset) == min(set)
    val docs = T.documents(spark, sf)
      .withColumn("th", transform(TextOps.tokens(col("text")), t => xxhash64(t)))
    val both = docs.select(
      TextOps.fingerprintFromHashes(col("th"), 3).as("fast"),
      array_min(array_distinct(Dedup.hashedShingles(col("th"), 3))).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("native hyperplane sigs == per-table HOF signatures on embeddings") {
    val emb = T.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .withColumn("sigs", Similarity.sigsNative(col("v"), 64, 5, 4))
    val checks = (0 until 4).map { t =>
      (element_at(col("sigs"), t + 1) =!=
        Similarity.hyperplaneSig(col("v"), 64, 5, t)).as(s"bad$t")
    }
    val bad = emb.select(checks: _*)
      .filter((0 until 4).map(t => col(s"bad$t")).reduce(_ || _)).count()
    assert(bad == 0)
  }

  test("native text stats == HOF quality/language metrics on the documents table") {
    val docs = T.documents(spark, sf)
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("st", TextOps.stats(col("toks")))
    val both = docs.select(
      TextOps.avgTokenLen(col("toks")).as("h_avg"),
      TextOps.avgTokenLenFromStats(col("st"), size(col("toks"))).as("n_avg"),
      TextOps.stopwordRatio(col("toks")).as("h_stop"),
      TextOps.stopwordRatioFromStats(col("st"), size(col("toks"))).as("n_stop"),
      TextOps.qualityScore(col("text")).as("h_q"),
      TextOps.qualityScoreFromStats(TextOps.punctRatio(col("text")), col("st"),
        size(col("toks"))).as("n_q"),
      TextOps.langId(col("toks")).as("h_lang"),
      TextOps.langIdFromStats(col("st")).as("n_lang"))
    assert(both.filter(
      col("h_avg") =!= col("n_avg") || col("h_stop") =!= col("n_stop") ||
      col("h_q") =!= col("n_q") || col("h_lang") =!= col("n_lang")).count() == 0)
    assert(both.count() == 500)
  }

  test("nearest centroids tolerate NaN vectors (deterministic fallback, no crash)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cents = Array(0.0, 0.0, 1.0, 1.0) // 2 centroids, dim 2
    val nanVec = new GenericArrayData(Array(Double.NaN, 0.5))
    val got = NativeExpressions.nearestCentroidsImpl(nanVec, cents, 2, 2, 2,
        normalize = false)
      .toIntArray().toSeq
    assert(got == Seq(0, 1)) // all-inf distances -> lowest index first
    // the normalizing path degrades the same way (NaN poisons the norm)
    val gotN = NativeExpressions.nearestCentroidsImpl(nanVec, cents, 2, 2, 2,
        normalize = true)
      .toIntArray().toSeq
    assert(gotN == Seq(0, 1))
  }

  test("fused normalize matches the unfused unit-then-assign formulation bit-for-bit") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cents = Array(0.6, 0.8, -0.8, 0.6) // 2 unit centroids, dim 2
    for (raw <- Seq(Array(3.0, 4.0), Array(-1.5, 2.5), Array(0.0, 0.0))) {
      var ss = 0.0
      raw.foreach(x => ss += x * x)
      val nrm = math.sqrt(ss)
      val u = if (nrm > 0) raw.map(_ / nrm) else raw
      val unfused = NativeExpressions.nearestCentroidsImpl(
        new GenericArrayData(u), cents, 2, 2, 2, normalize = false)
        .toIntArray().toSeq
      val fused = NativeExpressions.nearestCentroidsImpl(
        new GenericArrayData(raw), cents, 2, 2, 2, normalize = true)
        .toIntArray().toSeq
      assert(fused == unfused, s"raw=${raw.toSeq}")
    }
  }

  test("text stats treat null tokens as non-matches (no NPE)") {
    import spark.implicits._
    val got = Seq(Seq(Some("the"), None, Some("xyz")))
      .toDF("toks")
      .select(TextOps.stats(col("toks")).as("st"))
      .collect().head.getSeq[Long](0)
    assert(got == Seq(6L, 1L, 1L, 0L, 0L, 0L, 0L)) // 'the'+'xyz' chars, 1 en hit
  }

  test("text stats counts multi-list words once in 'any' but per language") {
    import spark.implicits._
    // "de" is in the es, fr and zh lists; "the" only en; "xyz" none
    val got = Seq(Seq("de", "the", "xyz")).toDF("toks")
      .select(TextOps.stats(col("toks")).as("st"))
      .collect().head.getSeq[Long](0)
    // layout: [totalChars, any, en, es, fr, de, zh]
    assert(got == Seq(8L, 2L, 1L, 1L, 1L, 0L, 1L))
  }

  test("rolling-hash fingerprint: reference parity, shift invariance, short docs") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and keeps running far",
      "tiny", // shorter than window -> single-window hash
      "")
    val got = texts.toDF("text")
      .select(TextOps.rollingFingerprint(col("text"), 32).as("fp"))
      .collect().map(_.getLong(0)).toSeq
    val want = texts.map(t =>
      NativeExpressions.rollingHashMin(t.getBytes("UTF-8"), 32))
    assert(got == want)
    // a doc sharing its rarest 32-byte window with a prefixed variant
    // keeps the same fingerprint when the min window survives the edit
    val base = "x" * 10 + "X-RARE-WINDOW-CONTENT-0123456789ABCD" + "y" * 200
    val shifted = "PREFIX " + base
    val fps = Seq(base, shifted).toDF("text")
      .select(TextOps.rollingFingerprint(col("text"), 32).as("fp"))
      .collect().map(_.getLong(0))
    // both contain every window of `base`; min over a superset is <= —
    // equality holds when the shared windows contain the global min
    assert(fps(1) == fps(0) ||
      java.lang.Long.compareUnsigned(fps(1), fps(0)) < 0)
  }

  test("portable distinct-shingles kernel == sorted HOF reference, incl. short docs") {
    val docs = T.documents(spark, sf)
      .withColumn("th",
        NativeExpressions.portable_token_hashes(TextOps.tokens(col("text"))))
    val both = docs
      .withColumn("hof", sort_array(array_distinct(
        Dedup.portableShingles(col("th"), 3))))
      .withColumn("native",
        NativeExpressions.portable_distinct_shingles(col("th"), 3))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    assert(both.count() == 500)
    // short-doc fold: fewer tokens than the shingle width → ONE whole-doc
    // shingle, same as the HOF's aggregate branch
    import spark.implicits._
    val shorts = Seq((1L, "one two"), (2L, "one"), (3L, "")).toDF("id", "text")
      .withColumn("th",
        NativeExpressions.portable_token_hashes(TextOps.tokens(col("text"))))
      .withColumn("hof", sort_array(array_distinct(
        Dedup.portableShingles(col("th"), 3))))
      .withColumn("native",
        NativeExpressions.portable_distinct_shingles(col("th"), 3))
    assert(shorts.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("portable shingles kernel == positional HOF reference, incl. short docs") {
    import spark.implicits._
    val docs = T.documents(spark, sf)
      .withColumn("th",
        NativeExpressions.portable_token_hashes(TextOps.tokens(col("text"))))
    val both = docs
      .withColumn("hof", Dedup.portableShingles(col("th"), 2))
      .withColumn("native", NativeExpressions.portable_shingles(col("th"), 2))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    assert(both.count() == 500)
    val shorts = Seq((1L, "one two"), (2L, "one"), (3L, "")).toDF("id", "text")
      .withColumn("th",
        NativeExpressions.portable_token_hashes(TextOps.tokens(col("text"))))
      .withColumn("hof", Dedup.portableShingles(col("th"), 3))
      .withColumn("native", NativeExpressions.portable_shingles(col("th"), 3))
    assert(shorts.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("portable shingle-min kernel == HOF reference on the documents table") {
    val docs = T.documents(spark, sf)
      .withColumn("th",
        NativeExpressions.portable_token_hashes(TextOps.tokens(col("text"))))
    val both = docs
      .withColumn("hof", array_min(Dedup.portableShingles(col("th"), 3)))
      .withColumn("native", NativeExpressions.portable_shingle_min(col("th"), 3))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    assert(both.count() == 500)
    // the operators are hash-generic: NEGATIVE token hashes (xxhash64)
    // must fold identically too (positive-mod reduction in the kernel)
    val xx = T.documents(spark, sf)
      .withColumn("th", Dedup.xxhashTokens(TextOps.tokens(col("text"))))
      .withColumn("hof", array_min(Dedup.portableShingles(col("th"), 3)))
      .withColumn("native", NativeExpressions.portable_shingle_min(col("th"), 3))
    assert(xx.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("portable hashes match DuckDB-computed goldens (cross-engine)") {
    import spark.implicits._
    // Golden values computed in DuckDB v1.0 with the exact oracle SQL
    // shapes (ScaleQueries.h62Sql / rollSql / fpSql) — pins the
    // cross-engine contract without needing DuckDB in this JVM. Includes
    // accents (é), CJK and an astral codepoint (surrogate-pair handling).
    val goldens = Seq(
      "the" -> 4571912497455089051L,
      "héllo" -> 4379529148477792995L,
      "中文字" -> 1508881211234623005L,
      "😀" -> 2522897933471732885L, // 😀 U+1F600
      "a" -> 2522622164358946550L,
      "" -> 2147490092450947L) // no codepoints -> seed1*2^31 + seed2
    val toks = goldens.map(_._1)
    val got = Seq(Tuple1(toks)).toDF("toks")
      .select(NativeExpressions.portable_token_hashes(col("toks")).as("h"))
      .collect().head.getSeq[Long](0)
    assert(got == goldens.map(_._2), s"got $got")

    val roll = Seq((1L, "hello world"), (2L, "hi")).toDF("id", "text")
      .select(col("id"), NativeExpressions.portable_rolling_min(col("text"), 5).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roll == Map(1L -> 348128775L, 2L -> 13900L), s"got $roll")

    val fp = Seq((1L, Seq("aa", "bb", "cc", "dd")), (2L, Seq("aa", "bb")))
      .toDF("id", "toks")
      .withColumn("th", NativeExpressions.portable_token_hashes(col("toks")))
      .select(col("id"), Dedup.portableFingerprint(col("th"), 3).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp == Map(1L -> 1776235046L, 2L -> 1341827637L), s"got $fp")
  }

  test("fused shingle-set kernel == HOF chain (filter/xxhash/window/distinct/sort)") {
    for (n <- Seq(2, 3)) {
      val both = T.documents(spark, sf)
        .select(col("doc_id"), col("text"))
        .withColumn("ref", sort_array(array_distinct(Dedup.hashedShingles(
          transform(TextOps.tokens(col("text")), t => xxhash64(t)), n))))
        .withColumn("native", NativeExpressions.xxhash_shingle_set(
          split(col("text"), "\\s+"), n))
      assert(both.filter(col("ref") =!= col("native")).count() == 0)
      assert(both.count() == 500)
    }
    // short/degenerate docs: below-n token counts and all-whitespace text
    val edge = spark.createDataFrame(Seq(
      (1L, "single"), (2L, "two words"), (3L, "   "), (4L, ""),
      (5L, " a  b "))).toDF("doc_id", "text")
    val both = edge
      .withColumn("ref", sort_array(array_distinct(Dedup.hashedShingles(
        transform(TextOps.tokens(col("text")), t => xxhash64(t)), 3))))
      .withColumn("native", NativeExpressions.xxhash_shingle_set(
        split(col("text"), "\\s+"), 3))
    assert(both.filter(col("ref") =!= col("native")).count() == 0)
  }

  test("minhash-mod kernel == minhash over interpreted pmod pre-pass") {
    val docs = T.documents(spark, sf)
      .select(NativeExpressions.xxhash_shingle_set(
        split(col("text"), "\\s+"), 3).as("sh"))
    val both = docs
      .withColumn("ref", NativeExpressions.minhash_signature(
        transform(col("sh"), x => pmod(x, lit(2147483647L))), 64))
      .withColumn("native",
        NativeExpressions.minhash_signature_mod(col("sh"), 64))
    assert(both.filter(col("ref") =!= col("native")).count() == 0)
    assert(both.count() == 500)
  }

  test("hot-last-order kernel == interpreted (hot,g) struct sort on sorted sets") {
    val docs = T.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("th", transform(col("toks"), t => xxhash64(t)))
      .withColumn("sh",
        sort_array(array_distinct(Dedup.hashedShingles(col("th"), 2))))
    // "hot" = an arbitrary but realistic subset: every 5th distinct hash
    val hotRows = docs.select(explode(col("sh")).as("g")).distinct()
      .filter(pmod(col("g"), lit(5L)) === 0L)
    val nHot = hotRows.count()
    val bc = spark.sparkContext.broadcast(
      hotRows.stat.bloomFilter("g", math.max(nHot, 1L), 0.01))
    val hof = (g: org.apache.spark.sql.Column) => when(
      NativeExpressions.bloom_might_contain_long(g, bc), 1).otherwise(0)
    val both = docs
      .withColumn("ref", transform(
        array_sort(transform(col("sh"), g => struct(hof(g).as("h"), g.as("g")))),
        s => s.getField("g")))
      .withColumn("native", NativeExpressions.hot_last_order(col("sh"), bc))
    assert(both.filter(col("ref") =!= col("native")).count() == 0)
    assert(both.count() == 500)
    // empty array edge
    val empty = spark.range(1)
      .select(array().cast("array<long>").as("sh"))
      .select(NativeExpressions.hot_last_order(col("sh"), bc).as("o"))
      .head().getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("sorted-overlap kernel == array_intersect size; edges and dups") {
    import spark.implicits._
    // random sorted-distinct arrays: kernel must equal the generic set op
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
      .withColumn("o", NativeExpressions.sorted_long_overlap(col("a"), col("b")))
      .withColumn("want", size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(df.filter(col("o") =!= col("want")).count() == 0)
    def one(a: Seq[Long], b: Seq[Long]): Long =
      Seq((a, b)).toDF("a", "b")
        .select(NativeExpressions.sorted_long_overlap(col("a"), col("b")))
        .head.getLong(0)
    // duplicate runs count once; empty/disjoint edges
    assert(one(Seq(1L, 1L, 2L, 5L, 5L, 5L), Seq(1L, 5L, 5L, 9L)) == 2L)
    assert(one(Seq.empty, Seq(1L, 2L)) == 0L)
    assert(one(Seq(1L, 2L), Seq.empty) == 0L)
    assert(one(Seq(1L, 3L), Seq(2L, 4L)) == 0L)
    assert(one(Seq(Long.MinValue, 0L, Long.MaxValue),
      Seq(Long.MinValue, Long.MaxValue)) == 2L)
    // interpreted path agrees with the DataFrame (codegen) path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val at = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType)
    val interp = SortedLongOverlap(
      Literal.create(new GenericArrayData(Array(1L, 3L, 7L)), at),
      Literal.create(new GenericArrayData(Array(3L, 7L, 9L)), at)).eval(null)
    assert(interp == 2L)
  }

  test("codegen and interpreted paths agree") {
    // force interpreted eval by constructing rows and calling eval directly
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val xs = new GenericArrayData(Array(5L, 17L, 99999L))
    val expr = MinHashSignature(Literal.create(xs,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)), 8, 2147483647L)
    val interp = expr.eval(null).asInstanceOf[GenericArrayData].toLongArray()
    // same via a DataFrame (codegen path)
    import spark.implicits._
    val viaDf = Seq(Seq(5L, 17L, 99999L)).toDF("xs")
      .select(NativeExpressions.minhash_signature(col("xs"), 8).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(interp.toSeq == viaDf)
  }

  /** Independent reference BPE-apply (GPT-2 semantics), written as a
    * naive candidate-list formulation — deliberately not the kernel's
    * single-scan argmin — so agreement is evidence, not tautology.
    */
  private def refBpe(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val rank = merges.zipWithIndex.groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).min }
    var syms: Vector[String] = word.map(_.toString).toVector
    var continue = true
    while (continue && syms.length >= 2) {
      val present = syms.zip(syms.tail).filter(rank.contains)
      if (present.isEmpty) continue = false
      else {
        val (a, b) = present.minBy(rank)
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  test("bpe_encode == reference encoder over random words and merge lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    val alphabet = "abcd"
    def randSym(maxLen: Int): String =
      (1 to (1 + rnd.nextInt(maxLen))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 25).foreach { _ =>
      val merges = (1 to (1 + rnd.nextInt(12)))
        .map(_ => (randSym(3), randSym(3)))
      val words = (1 to 40).map(_ =>
        (1 to (1 + rnd.nextInt(12))).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString).distinct
      val got = words.toDF("w")
        .select(col("w"), NativeExpressions.bpe_encode(col("w"), merges).as("t"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      words.foreach { w =>
        assert(got(w) == refBpe(w, merges),
          s"word=$w merges=$merges got=${got(w)} want=${refBpe(w, merges)}")
      }
    }
  }

  /** Driver reference WordPiece encoder — greedy longest-match-first,
    * whole word → unk on any miss (BERT semantics).
    */
  private def refWordPiece(w: String, vocab: Set[String],
      unk: String = "[UNK]", maxChars: Int = 100): Seq[String] = {
    if (w.isEmpty || w.length > maxChars) return Seq(unk)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < w.length) {
      var end = w.length
      var hit: Option[String] = None
      while (end > pos && hit.isEmpty) {
        val cand = (if (pos == 0) "" else "##") + w.substring(pos, end)
        if (vocab.contains(cand)) hit = Some(cand) else end -= 1
      }
      hit match {
        case None => return Seq(unk)
        case Some(p) => out += p; pos = end
      }
    }
    out.toSeq
  }

  test("wordpiece_encode == reference encoder over random words and vocabs") {
    import spark.implicits._
    val rnd = new scala.util.Random(206L)
    val alphabet = "abcd"
    def randPiece(maxLen: Int): String =
      (1 to (1 + rnd.nextInt(maxLen))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 25).foreach { _ =>
      // random vocab: a few initial pieces, a few continuations, and a
      // RANDOM subset of single chars (so UNK paths occur organically)
      val vocab = ((1 to (2 + rnd.nextInt(8))).map(_ => randPiece(3)) ++
        (1 to (2 + rnd.nextInt(8))).map(_ => "##" + randPiece(3)) ++
        alphabet.filter(_ => rnd.nextBoolean()).map(_.toString) ++
        alphabet.filter(_ => rnd.nextBoolean()).map("##" + _)).distinct
      val words = (1 to 40).map(_ =>
        (1 to (1 + rnd.nextInt(10))).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString).distinct
      val got = words.toDF("w")
        .select(col("w"), NativeExpressions.wordpiece_encode(col("w"), vocab).as("t"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val vs = vocab.toSet
      words.foreach { w =>
        assert(got(w) == refWordPiece(w, vs),
          s"word=$w vocab=$vocab got=${got(w)} want=${refWordPiece(w, vs)}")
      }
    }
  }

  test("wordpiece_encode edge cases: longest match, continuation, UNK, maxChars") {
    import spark.implicits._
    val vocab = Seq("un", "want", "##aff", "##able", "##ed", "a", "##a",
      "b", "##b", "wanted")
    def enc(w: String, maxChars: Int = 100): Seq[String] =
      Seq(w).toDF("w")
        .select(NativeExpressions.wordpiece_encode(col("w"), vocab,
          maxChars = maxChars).as("t"))
        .collect().head.getSeq[String](0)
    // the classic: greedy longest-first, continuations prefixed
    assert(enc("unaffable") == Seq("un", "##aff", "##able"))
    // longest INITIAL match wins over a shorter one plus continuation
    assert(enc("wanted") == Seq("wanted"))
    assert(enc("wantable") == Seq("want", "##able"))
    // any unmatched position voids the whole word, even a late one
    assert(enc("wantz") == Seq("[UNK]"))
    assert(enc("zb") == Seq("[UNK]"))
    // continuation vs initial forms are distinct vocab entries
    assert(enc("ab") == Seq("a", "##b"))
    // maxChars guard
    assert(enc("ab", maxChars = 1) == Seq("[UNK]"))
  }

  test("bpe_encode edge cases: single char, unmergeable, full collapse") {
    import spark.implicits._
    val merges = Seq(("a", "b"), ("ab", "ab"), ("c", "d"))
    val got = Seq("a", "xyz", "abab", "ababab", "cdcd").toDF("w")
      .select(col("w"), NativeExpressions.bpe_encode(col("w"), merges).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("a") == Seq("a"))
    assert(got("xyz") == Seq("x", "y", "z"))
    assert(got("abab") == Seq("abab"))
    // 3×(a,b) then ONE (ab,ab) left-to-right, trailing ab unpaired
    assert(got("ababab") == Seq("abab", "ab"))
    assert(got("cdcd") == Seq("cd", "cd"))
  }

  test("normalize_ascii_text: whitespace collapse, trim, case, passthrough") {
    import spark.implicits._
    val cases = Seq(
      "" -> "",
      " \t\r\n " -> "",                       // all-whitespace → empty
      "ABC" -> "abc",
      "  Hello\t\tWorld \r\n" -> "hello world",
      "a\u0000b" -> "a b",               // NUL is C0 control -> space
      "one  two\nthree" -> "one two three",
      "ümlaut É ok" -> "ümlaut É ok",         // non-ASCII untouched (incl. case)
      "x  y" -> "x y",
      "already clean" -> "already clean")
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), NativeExpressions.normalize_ascii_text(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"in=${in.map(_.toInt)} got=${got(in)}")
    }
    // null propagates, and the kernel is idempotent on its own output
    val df = (cases.map(_._1) :+ (null: String)).toDF("t")
      .select(NativeExpressions.normalize_ascii_text(col("t")).as("n"))
    assert(df.filter(col("n").isNull).count() == 1)
    assert(df.filter(col("n").isNotNull)
      .filter(NativeExpressions.normalize_ascii_text(col("n")) =!= col("n"))
      .count() == 0)
  }

  test("rotate_mat_vec == HOF rotation fold on the embeddings table (bit-exact)") {
    // both rotations the OPQ family ships: exact-IEEE Hadamard and the
    // corpus-trained eigenbasis (arbitrary doubles — the harder parity)
    val emb = T.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val rots = Seq(
      graft.scale.Opq.hadamardRotation(64),
      graft.scale.Opq.trainRotation(emb, "embedding", dim = 64, m = 4))
    for (rot <- rots) {
      val v = transform(col("embedding"), x => x.cast("double"))
      val hofDims = rot.toIndexedSeq.map { row =>
        round(aggregate(
          zip_with(v, array(row.toIndexedSeq.map(lit): _*), (x, w) => x * w),
          lit(0.0), (acc, z) => acc + z), 6)
      }
      val both = emb
        .withColumn("hof", array(hofDims: _*))
        .withColumn("native",
          NativeExpressions.rotate_mat_vec(col("embedding"), rot, 6))
      assert(both.filter(col("hof") =!= col("native")).count() == 0)
      assert(both.count() == 500)
    }
    // array<double> input path (the HOF casts; the kernel must too)
    val dbl = T.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val rot = graft.scale.Opq.hadamardRotation(64)
    val viaDouble = dbl.select(col("vec_id"),
      NativeExpressions.rotate_mat_vec(col("v"), rot, 6).as("r"))
    val viaFloat = T.embeddings(spark, sf).select(col("vec_id"),
      NativeExpressions.rotate_mat_vec(col("embedding"), rot, 6).as("r"))
    assert(viaDouble.join(viaFloat.withColumnRenamed("r", "r2"), "vec_id")
      .filter(col("r") =!= col("r2")).count() == 0)
  }

  test("rotate_mat_vec: non-finite inputs pass through like Catalyst round") {
    // Catalyst's RoundBase leaves NaN/Infinity unchanged; BigDecimal(NaN)
    // throws — a NaN embedding must not fail the job (r13 ADVICE). The
    // HOF twin is the parity oracle: round(NaN, 6) = NaN, round(Inf) = Inf.
    import spark.implicits._
    val rot = graft.scale.Opq.hadamardRotation(4)
    val df = Seq(
      (1L, Array(Double.NaN, 1.0, 2.0, 3.0)),
      (2L, Array(Double.PositiveInfinity, 1.0, 2.0, 3.0)),
      (3L, Array(0.5, -0.25, 0.125, 1.0)) // finite control row
    ).toDF("id", "v")
    val hofDims = rot.toIndexedSeq.map { row =>
      round(aggregate(
        zip_with(col("v"), array(row.toIndexedSeq.map(lit): _*),
          (x, w) => x * w), lit(0.0), (acc, z) => acc + z), 6)
    }
    val both = df
      .withColumn("hof", array(hofDims: _*))
      .withColumn("native", NativeExpressions.rotate_mat_vec(col("v"), rot, 6))
      .collect()
    for (r <- both) {
      val hof = r.getSeq[Double](2)
      val nat = r.getSeq[Double](3)
      assert(hof.zip(nat).forall { case (a, b) =>
        (a.isNaN && b.isNaN) || a == b }, s"row ${r.getLong(0)}: $hof vs $nat")
    }
    // driver-side twin: Opq.rotateVector must survive non-finite too
    val v = graft.scale.Opq.rotateVector(
      Array(Double.NaN, 1.0, 2.0, 3.0), rot)
    assert(v.forall(_.isNaN)) // Hadamard mixes every input into every output
  }

  test("gram_hashes: rolling == direct per-position recompute; code-point positions") {
    import spark.implicits._
    // direct recompute of the same polynomial, no rolling update — any
    // divergence means the remove-leading-char arithmetic is wrong
    def direct(s: String, l: Int): Seq[Long] = {
      val cps = s.codePoints().toArray
      if (cps.length < l) Seq.empty
      else (0 to cps.length - l).map { p =>
        var h = 0L; var j = 0
        while (j < l) { h = h * 1000003L + cps(p + j); j += 1 }
        h
      }
    }
    val texts = Seq("", "ab", "abcab", "the cat sat on the mat the cat",
      "aaaaaaaa", "a😀b😀a😀b", "mixé unicodé ünicode mixé")
    for (l <- Seq(1, 2, 3, 5); t <- texts) {
      val got = Seq(t).toDF("t")
        .select(NativeExpressions.gram_hashes(col("t"), l))
        .collect()(0).getSeq[Long](0)
      assert(got == direct(t, l), s"'$t' L=$l")
    }
    // the contract the caller leans on: equal substrings => equal hashes
    // (incl. across the non-BMP emoji, which must count as ONE position
    // so pass-2's codepoint substring re-extracts the same gram)
    val t = "xx a😀b yy a😀b zz"
    val hs = direct(t, 3)
    val cps = t.codePoints().toArray
    for (i <- hs.indices; j <- hs.indices
         if new String(cps, i, 3) == new String(cps, j, 3))
      assert(hs(i) == hs(j), s"equal grams at $i,$j must hash equal")
  }

  test("rotate_mat_vec: rejects non-float/double element types at analysis") {
    import spark.implicits._
    val rot = graft.scale.Opq.hadamardRotation(4)
    val bad = Seq((1L, Array(1, 2, 3, 4))).toDF("id", "v")
    val e = intercept[Exception] {
      bad.select(NativeExpressions.rotate_mat_vec(col("v"), rot, 6)).collect()
    }
    assert(e.getMessage.contains("array<float> or array<double>"),
      e.getMessage)
  }
}
