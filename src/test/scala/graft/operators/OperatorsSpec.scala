package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorFunctions

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("backward as-of picks most recent right row at or before left time") {
    val left = Seq((1L, 100L, "p1"), (1L, 205L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 100L, "s1"), (1L, 200L, "s2"), (3L, 10L, "s3"))
      .toDF("k", "t", "sid")
    val out = AsOfJoin.backward(left, right, Seq("k"), "t", "t", Map("sid" -> "matched"))
      .select("name", "matched").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("p1") == "s1")   // tie: right row at same t matches (>= bound)
    assert(out("p2") == "s2")   // most recent prior
    assert(out("p3") == null)   // no right row for key 2
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("sessions split exactly when gap exceeds threshold") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    // gaps: 10s, exactly 30s (no split at ==), 31s (split)
    val df = Seq((1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(40), 3L), (1L, ts(71), 4L))
      .toDF("user_id", "ts", "event_id")
    val out = Sessionize.sessions(df, "user_id", "ts", 30L, "event_id")
      .select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }
}

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  test("binary salted-md5 signature is bit-identical to the built-in hex formulation") {
    // pins the r19 hot-aggregate rewrite: lower(hex(min(SaltedMd5Bin(s, salt))))
    // must equal min(md5(concat(s, salt))) — hex is monotone over
    // equal-length byte arrays, so the binary min IS the hex min. Exercises
    // multi-byte UTF-8 and empty-ish shingles too.
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x"), (4L, "é ü 中 文 a b c")).toDF("doc_id", "text")
    val sh = NearDup.shingles(docs)
    val viaBuiltin = (0 until NearDup.NumHashes).map(i =>
      min(md5(concat(col("shingle"), lit(s"#$i")))).as(s"mh$i"))
    val expected = sh.groupBy(col("doc_id"))
      .agg(viaBuiltin.head, viaBuiltin.tail: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val actual = NearDup.signatures(sh)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(actual == expected)
    // the interpreted path (no whole-stage codegen, interpreted
    // projections) yields the same bytes
    val direct = graft.functions.SaltedMd5Bin(
      org.apache.spark.sql.catalyst.expressions.Literal("é ü 中"), "#7")
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Array[Byte]]
    assert(direct.sameElements(java.security.MessageDigest.getInstance("MD5")
      .digest("é ü 中#7".getBytes("UTF-8"))))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val interpreted = NearDup.signatures(sh)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(interpreted == expected)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("identical docs are found by both exact jaccard and minhash with j=1.0") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val sh = NearDup.shingles(docs)
    val exact = NearDup.verifyJaccard(
      Seq((1L, 2L)).toDF("doc_a", "doc_b"), sh).collect()
    assert(exact.length == 1 && exact.head.getAs[Double]("jaccard") == 1.0)
    val lsh = NearDup.lshCandidates(NearDup.bandKeys(NearDup.signatures(sh)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 2L)))
    assert(!lsh.contains((1L, 3L)) && !lsh.contains((2L, 3L)))
  }

  test("simhash: identical docs share fingerprints, disjoint docs differ") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    // route through a temp view-backed query path
    val path = java.nio.file.Files.createTempDirectory("nd").toString
    docs.write.mode("overwrite").parquet(s"$path/documents.parquet")
    val out = NearDup.simhash(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("ngram df-cap is loss-free on the test corpus (no pair above threshold dropped)") {
    // the guarantee the cap relies on: a qualifying pair is lost only if ALL
    // its shared shingles are hot. Asserting capped == uncapped candidate
    // sets on real test data proves no pair above the Jaccard threshold is
    // dropped there (the uncapped set is a superset by construction).
    val sh = NearDup.shingles(
      graft.sources.Tables.documents(spark, sf0001)).cache()
    sh.count()
    def pairs(maxDf: Int) = NearDup.ngramJaccardFrom(sh, maxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = pairs(NearDup.MaxShingleDf)
    val uncapped = pairs(Int.MaxValue)
    sh.unpersist()
    assert(capped == uncapped,
      s"df-cap ${NearDup.MaxShingleDf} changed ${(uncapped -- capped).size} qualifying pairs")
  }

  test("simhash pairs: identical-fingerprint groups count each other at hamming 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "coal iron zinc lead tin copper nickel")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("nd64").toString
    docs.write.mode("overwrite").parquet(s"$path/documents.parquet")
    val out = NearDup.simhashPairs(spark, path).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the 3 identical docs each see the other 2 at hamming 0; doc 4 is not
    // within the hamming threshold of the cluster so it has no row
    assert(out.get(1L).contains((2L, 0L)), out.toString)
    assert(out.get(2L).contains((2L, 0L)))
    assert(out.get(3L).contains((2L, 0L)))
    assert(!out.contains(4L) || out(4L)._2 > 0)
  }

  test("label propagation: diameter-8 path converges; 4-round unroll provably would not") {
    // path graph 1-2-3-…-9: the min label (1) sits at one END, so it needs 8
    // propagation hops to reach node 9 — past the oracle's historical
    // 4-round horizon
    // labelPropagate symmetrizes internally — pass the directed pair list
    val pairs = (1L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val fixpoint = NearDup.labelPropagate(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixpoint == (1L to 9L).map(_ -> 1L).toMap, fixpoint.toString)

    // demonstrate why the oracle is a RECURSIVE closure and not a k-round
    // unroll: a 4-round unroll (the oracle's historical shape) provably
    // does NOT reach the fixpoint at this diameter
    def unrolled(k: Int): Map[Long, Long] = {
      var m = (1L to 9L).map(i => i -> i).toMap
      (1 to k).foreach { _ =>
        m = m.map { case (n, l) =>
          val nbrs = Seq(n - 1, n + 1).filter(x => x >= 1 && x <= 9)
          n -> (l +: nbrs.map(m)).min
        }
      }
      m
    }
    assert(unrolled(4) != fixpoint, "diameter 8 must exceed a 4-round unroll")

    // the driver union-find tier answers IDENTICALLY on the same graph
    // (plus a disjoint pair clique), and the gate routes by edge count:
    // an over-threshold count takes the distributed fixpoint
    val mixed = pairs.unionAll(Seq((20L, 21L)).toDF("doc_a", "doc_b"))
    val uf = NearDup.connectedLabels(mixed, 9L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = NearDup.connectedLabels(mixed, NearDup.MaxDriverEdges + 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == dist, s"driver $uf vs distributed $dist")
    assert(uf == ((1L to 9L).map(_ -> 1L) ++ Seq(20L -> 20L, 21L -> 20L)).toMap)
  }

  test("embed near-dup: LSH pairs are sound vs brute force; planted dups always caught") {
    // soundness: every banded-LSH pair is a true >=threshold pair with the
    // exact same cosine (the re-rank is exact, so LSH can only MISS, never
    // invent)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0), r.get(1)) -> r.getDouble(2)).toMap
    val lsh = toMap(NearDup.embedNearDup(spark, sf0001))
    val brute = toMap(NearDup.embedNearDupBrute(spark, sf0001))
    lsh.foreach { case (k, c) =>
      assert(brute.get(k).contains(c), s"LSH invented pair $k")
    }
    // completeness on planted duplicates: identical and positively-scaled
    // vectors have identical hyperplane sign patterns in EVERY band, so the
    // equi-join is guaranteed to surface them
    val dim = NearDup.EmbedDim
    val base = Array.tabulate(dim)(i => math.sin(i + 1).toFloat)
    val other = Array.tabulate(dim)(i => math.cos(3 * i + 2).toFloat)
    val planted = Seq(
      (1L, base), (2L, base), (3L, base.map(_ * 2.0f)), (4L, other))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("embnd").toString
    planted.write.mode("overwrite").parquet(s"$path/embeddings.parquet")
    val found = NearDup.embedNearDup(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 2L)) && found.contains((1L, 3L)) && found.contains((2L, 3L)),
      found.toString)
  }

  test("incremental dedup: planted batch dups caught against the corpus, corpus pairs never materialize") {
    // corpus = doc_id % 10 != 0; batch = multiples of 10. Doc 10 is an
    // exact copy of corpus doc 3; doc 20 is unrelated; doc 30 copies
    // corpus doc 7. Corpus docs 3 and 5 are ALSO identical to each other —
    // an internal corpus pair the incremental op must NOT report.
    val t1 = "a b c d e f g h i j"
    val t2 = "k l m n o p q r s t"
    val t3 = "u v w x y z aa bb cc dd"
    val docs = Seq(
      (1L, "one two three four five six seven"),
      (3L, t1), (5L, t1), (7L, t2),
      (10L, t1), (20L, t3), (30L, t2)).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("incd").toString
    docs.write.mode("overwrite").parquet(s"$path/documents.parquet")
    val out = NearDup.incrementalDedup(spark, path).collect()
      .map(r => r.getLong(0) -> r).toMap
    spark.catalog.clearCache()
    // output covers exactly the batch, never corpus docs
    assert(out.keySet == Set(10L, 20L, 30L), out.keySet.toString)
    assert(out(10L).getAs[Boolean]("is_dup") &&
      out(10L).getAs[Double]("jaccard") == 1.0)
    // doc 10 matches BOTH identical corpus docs 3 and 5; best = max doc_b
    assert(out(10L).getAs[Long]("n_dups") == 2 &&
      out(10L).getAs[Long]("dup_of") == 5L, out(10L).toString)
    assert(!out(20L).getAs[Boolean]("is_dup") &&
      out(20L).getAs[Long]("n_dups") == 0L)
    assert(out(30L).getAs[Boolean]("is_dup") &&
      out(30L).getAs[Long]("dup_of") == 7L)
  }

  test("simhash band-bucket cap has headroom on the test corpus (no-op there)") {
    val fps = NearDup.simhash64Keys(spark, sf0001)
    val maxBucket = (0 until NearDup.SimhashBands).map { b =>
      fps.groupBy(col(s"k$b"))
        .count().agg(max("count")).collect().head.getLong(0)
    }.max
    // cap must not bite at test SF (results unchanged by the cap), while
    // still bounding degenerate buckets at scale
    assert(maxBucket <= NearDup.MaxBandBucket,
      s"max band bucket $maxBucket exceeds cap ${NearDup.MaxBandBucket}")
  }
}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("codegen dot product matches the HOF formulation bit-for-bit") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
        (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, 0.6f)))
      .toDF("a", "b")
      .select(VectorFunctions.asDouble(col("a")).as("a"),
        VectorFunctions.asDouble(col("b")).as("b"))
    val got = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (s, x) => s + x).as("hof"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(got.head.getDouble(0) == 32.0)
  }

  test("codegen trigram codes match the substring formulation, incl. non-ASCII") {
    import graft.functions.CharTrigramCodes
    // multi-byte coverage: 2-byte (é, ü), 3-byte (日本語, 好), 4-byte (😀,
    // U+10000) — code-point windows must equal SQL character windows here,
    // where the old byte-window formulation diverged
    val df = Seq("the cat sat", "ab", "abc", "", "xyz xyz",
      "café über", "日本語テスト", "a😀b😀c", "na𐀀ve").toDF("text")
    val got = df.select(col("text"),
      CharTrigramCodes(col("text")).as("codes"),
      // sequence(1, 0) counts DOWN in Spark, so guard short strings
      expr("CASE WHEN length(text) >= 3 THEN transform(" +
        "sequence(1, length(text) - 2), i -> substring(text, i, 3)) " +
        "ELSE array() END").as("tris")).collect()
    got.foreach { r =>
      val codes = r.getSeq[Long](1)
      val tris = r.getSeq[String](2)
      assert(codes.length == tris.length, r.getString(0))
      // injective packing: code == (cp0<<42)|(cp1<<21)|cp2 of the trigram
      // CODE POINTS (21 bits each)
      codes.zip(tris).foreach { case (c, t) =>
        val cp0 = t.codePointAt(0)
        val cp1 = t.codePointAt(t.offsetByCodePoints(0, 1))
        val cp2 = t.codePointAt(t.offsetByCodePoints(0, 2))
        val expect = (cp0.toLong << 42) | (cp1.toLong << 21) | cp2.toLong
        assert(c == expect, s"'$t' -> $c vs $expect")
        // the substr(tri,1,2) prefix is the top two code points: code >>> 21
        assert((c >>> 21) == ((cp0.toLong << 21) | cp1.toLong))
      }
    }
    // null propagates; 0-2 char strings yield empty arrays, not errors
    val edge = Seq(Option.empty[String], Some("ab"), Some("日本")).toDF("text")
      .select(CharTrigramCodes(col("text")).as("c")).collect()
    assert(edge(0).isNullAt(0) && edge(1).getSeq[Long](0).isEmpty &&
      edge(2).getSeq[Long](0).isEmpty)
  }

  test("cosine of identical vectors is 1.0; orthogonal is 0.0") {
    val df = Seq((Array(3.0, 4.0), Array(3.0, 4.0), Array(-4.0, 3.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      VectorFunctions.cosine(col("a"), col("b")),
      VectorFunctions.cosine(col("a"), col("c"))).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(1)) < 1e-15)
  }

  test("kmeans index build: deterministic, and more Lloyd iterations never hurt cohesion") {
    import graft.queries.SimilarityQueries
    import graft.functions.VectorFunctions._
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v"))).cache()
    def cost(cents: Seq[SimilarityQueries.Centroid]): Double =
      SimilarityQueries.assignBuckets(emb, cents)
        .select((lit(1.0) - array_max(col("cand")).getField("cos")).as("c"))
        .agg(sum(col("c"))).collect().head.getDouble(0)
    val one = SimilarityQueries.kmeans(emb, 8, iters = 1)
    val five = SimilarityQueries.kmeans(emb, 8, iters = 5)
    def canon(cs: Seq[SimilarityQueries.Centroid]) = cs.map(c => (c.id, c.v.toSeq, c.nrm))
    assert(canon(one) == canon(SimilarityQueries.kmeans(emb, 8, iters = 1)),
      "deterministic build")
    assert(one.size <= 8 && five.size <= 8)
    // total (1 - cosine-to-own-centroid) must not get worse with refinement
    assert(cost(five) <= cost(one) + 1e-6, s"${cost(five)} vs ${cost(one)}")
    emb.unpersist()
  }

  test("dot product rejects non-double arrays at analysis time") {
    val df = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.ArrayDotProduct(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("array<double>"), e.getMessage)
  }

  test("dot product propagates null array elements to a null result") {
    val df = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(4.0), Some(5.0), Some(6.0))),
        (Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0))))
      .toDF("a", "b")
    val rows = df.select(graft.functions.ArrayDotProduct(col("a"), col("b")).as("d"))
      .orderBy(col("d").asc_nulls_first).collect()
    assert(rows.head.isNullAt(0))
    assert(rows(1).getDouble(0) == 11.0)
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.TextFunctions

  test("word/stopword/diversity metrics on a known sentence") {
    val df = Seq("the cat sat on the mat").toDF("text")
    val r = df.select(
      TextFunctions.wordCount(col("text")),
      TextFunctions.stopwordCount(col("text")),
      TextFunctions.distinctWordCount(col("text")),
      TextFunctions.avgWordLen(col("text"))).head()
    assert(r.getLong(0) == 6L)
    assert(r.getLong(1) == 3L) // the, on, the
    assert(r.getLong(2) == 5L)
    assert(math.abs(r.getDouble(3) - 17.0 / 6.0) < 1e-12)
  }

  test("bag-of-words fingerprint is order-insensitive") {
    val df = Seq(("a b c", "c b a"), ("a b c", "a b d")).toDF("x", "y")
    val rows = df.select(
      (TextFunctions.bowFingerprint(col("x")) === TextFunctions.bowFingerprint(col("y"))).as("eq"))
      .collect().map(_.getBoolean(0))
    assert(rows.toSeq == Seq(true, false))
  }
}
