package graft

import graft.functions.ArrayExpressions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The custom Catalyst expressions: codegen path (through DataFrames) vs
  * built-in compositions vs direct interpreted eval.
  */
class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** Random lowercase-alpha string (shared by the CDC tests). */
  private def lowerAlpha(rnd: Random, n: Int): String =
    (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

  test("sorted_long_intersect_count == size(array_intersect) on random sorted sets") {
    import spark.implicits._
    val rnd = new Random(1)
    val rows = Seq.fill(50) {
      val a = Seq.fill(rnd.nextInt(50) + 1)(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(50) + 1)(rnd.nextInt(40).toLong).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      ArrayExpressions.sortedLongIntersectCount(col("a"), col("b")).as("n"),
      size(array_intersect(col("a"), col("b"))).as("want")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("cosine_similarity == aggregate/zip_with composition within 1e-12") {
    import spark.implicits._
    val rnd = new Random(2)
    val rows = Seq.fill(30)((Seq.fill(64)(rnd.nextDouble() - 0.5), Seq.fill(64)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      ArrayExpressions.cosineSim(col("a"), col("b")).as("fast"),
      (graft.operators.Similarity.dot(col("a"), col("b")) /
        (graft.operators.Similarity.norm(col("a")) * graft.operators.Similarity.norm(col("b")))).as("ref"))
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("minhash_signature matches the per-permutation definition") {
    import spark.implicits._
    val rnd = new Random(3)
    val hashes = Seq.fill(100)(rnd.nextLong())
    val df = Seq(Tuple1(hashes)).toDF("h")
    val sig = df.select(ArrayExpressions.minhashSignature(col("h"), 16).as("s"))
      .collect()(0).getSeq[Long](0)
    val p = ArrayExpressions.MinHash.P
    val want = (0 until 16).map { i =>
      val a = ArrayExpressions.MinHash.coefA(i); val b = ArrayExpressions.MinHash.coefB(i)
      hashes.map { h0 => val h = { val m = h0 % p; if (m < 0) m + p else m }; (a * h + b) % p }.min
    }
    assert(sig == want)
  }

  test("expressions are SQL-visible after registration") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(1d, 0d), array(1d, 0d)) AS c, " +
        "sorted_long_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS n").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getInt(1) == 2)
  }

  test("shingle_hashes_sorted: injective for n<=3 — set sizes and intersections equal string-shingle sets") {
    import spark.implicits._
    val rnd = new Random(7)
    def randText(len: Int) =
      Seq.fill(len)("abcdef 0189"(rnd.nextInt(11))).mkString
    val texts = Seq.fill(40)(randText(rnd.nextInt(200) + 5)) ++
      // edge: short, repeated, non-ASCII, astral (surrogate-pair) chars —
      // shingling must count CODE POINTS like Spark substring / DuckDB
      Seq("", "ab", "abc", "aaaa", "ééé niño", "ab😀cd", "😀😁x")
    def stringShingles(t: String, n: Int): Set[String] = {
      val cps = t.codePoints().toArray
      if (cps.length < n) Set.empty
      else (0 to cps.length - n)
        .map(i => new String(cps.slice(i, i + n), 0, n)).toSet
    }
    val rows = texts.toDF("text")
      .select(col("text"), ArrayExpressions.shingleHashesSorted(col("text"), 3).as("h"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      val h = r.getSeq[Long](1)
      assert(h == h.sorted && h.distinct == h, s"not sorted-distinct for '$t'")
      assert(h.size == stringShingles(t, 3).size, s"set size mismatch for '$t'")
    }
    // pairwise intersection counts equal the string-set intersections
    for (a <- rows.take(10); b <- rows.take(10)) {
      val ha = a.getSeq[Long](1).toSet; val hb = b.getSeq[Long](1).toSet
      val sa = stringShingles(a.getString(0), 3); val sb = stringShingles(b.getString(0), 3)
      assert((ha & hb).size == (sa & sb).size)
    }
  }

  test("top_k_by_score aggregate == window row_number top-k, including score ties") {
    import spark.implicits._
    val rnd = new Random(9)
    // few distinct scores => plenty of ties to exercise the id tie-break
    val rows = Seq.fill(2000)((rnd.nextInt(8).toLong, rnd.nextInt(20) / 10.0, rnd.nextLong() & 0xffffL))
    val df = rows.toDF("g", "score", "id")
    val viaAgg = df.groupBy("g")
      .agg(ArrayExpressions.topKByScore(col("score"), col("id"), 7).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g"), col("t.score"), col("t.id"), (col("pos") + 1).cast("bigint").as("rank"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id"))
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3).toLong)).toSet
    assert(viaAgg == viaWindow)
  }

  test("top_k_by_score skips NaN scores instead of freezing the heap") {
    import spark.implicits._
    // NaN first so an unguarded heap would pin it at the root
    val df = Seq((1L, Double.NaN, 99L), (1L, 0.3, 3L), (1L, 0.9, 1L), (1L, 0.5, 2L))
      .toDF("g", "score", "id")
    val top = df.groupBy("g")
      .agg(ArrayExpressions.topKByScore(col("score"), col("id"), 2).as("top"))
      .select(explode(col("top")).as("t")).select(col("t.id"))
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L)) // NaN row ignored, real top-2 kept
  }

  test("deflate_ratio separates repetitive, prose, and random text") {
    import spark.implicits._
    val rnd = new Random(31)
    val repetitive = "spam ham " * 300
    val prose = Seq.fill(120)(Seq.fill(6)("abcdefghijklmnop".substring(0, rnd.nextInt(12) + 3)).mkString(" ")).mkString(". ")
    val random = Seq.fill(2400)((rnd.nextInt(94) + 33).toChar).mkString
    val rows = Seq(("rep", repetitive), ("prose", prose), ("rand", random), ("empty", ""))
      .toDF("kind", "text")
      .select(col("kind"), ArrayExpressions.deflateRatio(col("text")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("rep") < 0.1, s"repetitive should compress hard: ${rows("rep")}")
    assert(rows("rep") < rows("prose") && rows("prose") < rows("rand"),
      s"ordering violated: $rows")
    assert(rows("empty") == 1.0)
    // deterministic across evaluations
    val again = Seq(("x", repetitive)).toDF("k", "text")
      .select(ArrayExpressions.deflateRatio(col("text"))).head().getDouble(0)
    assert(again == rows("rep"))
  }

  test("hyperplane_bucket: deterministic, dim-independent plan size, dim-1024 works") {
    import spark.implicits._
    val rnd = new Random(7)
    // dim 1024: the round-2 per-dimension Column formulation would build
    // 1024 × 16 plan nodes here; the fused kernel is one node.
    val rows = Seq.fill(20)(Seq.fill(1024)(rnd.nextDouble() - 0.5))
    val df = rows.toDF("v")
    val got = df.select(ArrayExpressions.hyperplaneBucket(col("v"), 16).as("b")).collect()
    got.foreach(r => assert(r.getLong(0) >= 0 && r.getLong(0) < (1L << 16)))
    // the plan stays a single project node over the scan — no per-dim blowup
    val plan = df.select(ArrayExpressions.hyperplaneBucket(col("v"), 16))
      .queryExecution.optimizedPlan
    assert(plan.expressions.map(_.collect { case e => e }.size).sum < 10,
      s"hyperplane_bucket plan grew with dim:\n$plan")
    // same vector -> same bucket (pure function)
    val twice = df.select(ArrayExpressions.hyperplaneBucket(col("v"), 16).as("b")).collect()
    assert(got.map(_.getLong(0)).toSeq == twice.map(_.getLong(0)).toSeq)
    // a near-duplicate (tiny perturbation) usually shares the bucket;
    // an unrelated vector usually does not — sanity of the LSH property
    val base = Seq.fill(256)(rnd.nextDouble() - 0.5)
    val near = base.map(_ * 1.0000001)
    val pair = Seq((base, near)).toDF("a", "b")
      .select(ArrayExpressions.hyperplaneBucket(col("a"), 16).as("ba"),
        ArrayExpressions.hyperplaneBucket(col("b"), 16).as("bb")).head()
    assert(pair.getLong(0) == pair.getLong(1))
  }

  test("vector_sum aggregate == per-dimension sums; ragged rows dropped via size grouping") {
    import spark.implicits._
    val rnd = new Random(8)
    val rows = (0 until 200).map(i => (i % 3, Seq.fill(32)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("g", "v").repartition(8)
    val got = df.groupBy(col("g"))
      .agg(ArrayExpressions.vectorSum(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val want = rows.groupBy(_._1).map { case (g, vs) =>
      g -> (0 until 32).map(i => vs.map(_._2(i)).sum)
    }
    want.foreach { case (g, w) =>
      got(g).zip(w).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"group $g") }
    }
    // dim 1024 in one node (the motivating case)
    val big = Seq.fill(50)(Seq.fill(1024)(rnd.nextDouble())).toDF("v")
    val s = big.agg(ArrayExpressions.vectorSum(col("v"))).head().getSeq[Double](0)
    assert(s.length == 1024)
  }

  test("vector_sum on a ragged group is deterministic: max-length vectors win, any layout") {
    import spark.implicits._
    // lengths 2/4/8 mixed in one group: the contract is "element-wise sum
    // of exactly the max-length vectors" regardless of partition/merge
    // order — shorter rows drop deterministically
    val vecs = Seq(
      Seq(1.0, 2.0), Seq(1.0, 1.0, 1.0, 1.0),
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0),
      Seq(0.5, 0.5, 0.5, 0.5), Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0))
    val want = (0 until 8).map(i => vecs(2)(i) + vecs(4)(i))
    for (parts <- Seq(1, 2, 5)) {
      val got = vecs.toDF("v").repartition(parts)
        .agg(ArrayExpressions.vectorSum(col("v"))).head().getSeq[Double](0)
      assert(got == want, s"parts=$parts")
    }
  }

  test("wrong-arity SQL calls raise the standard WRONG_NUM_ARGS analysis error") {
    val tooFew = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_signature(array(1L))").collect()
    }
    assert(tooFew.getMessage.contains("minhash_signature") &&
      tooFew.getMessage.contains("2 parameters"), tooFew.getMessage)
    val tooMany = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT lexicon_hits('a', 'extra')").collect()
    }
    assert(tooMany.getMessage.contains("lexicon_hits") &&
      tooMany.getMessage.contains("1 parameters"), tooMany.getMessage)
  }

  test("a NULL or a column for a literal parameter fails at analysis like a built-in") {
    // every literal parameter of every function: `?` marks it
    val calls = Seq(
      "minhash_signature(array(1L, 2L), ?)" -> "numPerms",
      "shingle_hashes_sorted('abc', ?)" -> "n",
      "hyperplane_bucket(array(1d), ?)" -> "nBits",
      "cdc_chunks('abc', ?, 3, 16)" -> "minSize",
      "cdc_chunks('abc', 4, ?, 16)" -> "avgBits",
      "cdc_chunks('abc', 4, 3, ?)" -> "maxSize",
      "doc_fingerprint('abc', ?)" -> "n",
      "top_k_by_score(1d, 1L, ?)" -> "k",
      "unicode_normalize('abc', ?)" -> "form")
    for ((call, param) <- calls) {
      val nullArg = if (param == "form") "CAST(NULL AS STRING)" else "CAST(NULL AS INT)"
      for ((arg, condition) <- Seq(
          nullArg -> "INVALID_PARAMETER_VALUE.NULL", "n" -> "NON_FOLDABLE_ARGUMENT")) {
        val sql = s"SELECT ${call.replace("?", arg)} FROM VALUES (4) AS t(n)"
        val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect())
        assert(e.getCondition == condition, s"$sql: ${e.getMessage}")
        assert(e.getMessage.contains(s"`${call.takeWhile(_ != '(')}`") &&
          e.getMessage.contains(s"`$param`"), s"$sql: ${e.getMessage}")
      }
    }
  }

  test("lexicon_hits == split + per-lexicon filter counts on adversarial whitespace") {
    import spark.implicits._
    val texts = Seq(
      "the la que und is  el\tder\nthe\r\nlade",
      "  leading and trailing  ",
      "", "no stopwords here at all?", "the the the la la y y y",
      "tabs\tand\nnewlines the\fla")
    val df = texts.toDF("text")
    val lex = graft.operators.TextAnalysis.LexiconOrder
      .map(graft.operators.TextAnalysis.Lexicons)
    val got = df.select(ArrayExpressions.lexiconHits(col("text")).as("h")).collect()
      .map(_.getSeq[Int](0))
    val want = texts.map { t =>
      val toks = t.split("\\s+").toSeq
      lex.map(words => toks.count(words.contains))
    }
    assert(got.map(_.toSeq).toSeq == want)
  }

  test("doc_fingerprint == md5(concat of sorted distinct shingles) incl. unicode + short strings") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaa", "aaa", "ab", "", "ñandú emoji 😀 mixed ascii",
      "repeat repeat repeat repeat")
    val df = texts.toDF("text")
    val got = df.select(ArrayExpressions.docFingerprint(col("text"), 4).as("f")).collect()
      .map(_.getString(0))
    val want = df.select(md5(concat_ws("",
        graft.operators.Dedup.shingles("text", 4))).as("f")).collect()
      .map(_.getString(0))
    assert(got.toSeq == want.toSeq)
  }

  test("cdc_chunks: bytes conserved, sizes bounded, deterministic, and edits stay local") {
    import spark.implicits._
    val rnd = new Random(11)
    val base = lowerAlpha(rnd, 4000)
    val texts = Seq(base, "", "x", lowerAlpha(rnd, 31), lowerAlpha(rnd, 600),
      base + lowerAlpha(rnd, 500))
    val df = texts.toDF("text")
    val chunks = df.select(col("text"),
        ArrayExpressions.cdcChunks(col("text"), 32, 6, 512).as("c")).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1))

    chunks.foreach { case (t, cs) =>
      val nBytes = t.getBytes("UTF-8").length
      // bytes conserved, empty -> no chunks
      assert(cs.map(_.getInt(0)).sum == nBytes)
      if (nBytes == 0) assert(cs.isEmpty)
      // every chunk <= maxSize; every chunk but the last >= minSize
      cs.foreach(c => assert(c.getInt(0) <= 512))
      cs.dropRight(1).foreach(c => assert(c.getInt(0) >= 32))
    }
    // deterministic
    val again = df.select(ArrayExpressions.cdcChunks(col("text"), 32, 6, 512)).collect()
    assert(again.map(_.getSeq[org.apache.spark.sql.Row](0).toList).toSeq ==
      chunks.map(_._2.toList).toSeq)
    // LOCALITY: appending a suffix must not change any chunk before the
    // one that held the original tail — the property that makes CDC dedup
    // find shared prefixes/boilerplate
    val baseChunks = chunks.find(_._1 == base).get._2.map(r => (r.getInt(0), r.getLong(1)))
    val extChunks = chunks.find(_._1.length == base.length + 500).get._2
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(extChunks.take(baseChunks.length - 1) == baseChunks.dropRight(1),
      "appending a suffix rewrote untouched chunks")
  }

  test("chunk-level dedup finds shared boilerplate across documents") {
    import spark.implicits._
    val rnd = new Random(12)
    val boilerplate = lowerAlpha(rnd, 2000)
    val docs = (0L until 10L).map(i => (i, boilerplate + lowerAlpha(rnd, 200)))
      .toDF("doc_id", "text")
    val profile = graft.operators.Chunker.dupChunkProfile(docs).head()
    val totalBytes = profile.getAs[Long]("total_bytes")
    val dupBytes = profile.getAs[Long]("dup_bytes")
    // 10 copies of a 2000-byte prefix: the shared chunks dedup away —
    // at least half the corpus volume must be recognized as duplicate
    assert(dupBytes > totalBytes / 2, s"dup $dupBytes of $totalBytes")
    assert(profile.getAs[Long]("n_chunks") > profile.getAs[Long]("n_unique_chunks"))
  }

  test("every registered function evaluates through SQL TEXT, matching the Column-wrapper path") {
    // The kernels' correctness is pinned per-function above through the
    // Column wrappers; what this test pins is the SQL surface itself —
    // name resolution, argument binding order, and literal-argument
    // evaluation (`Args.int`) for EVERY registered name, aggregates included.
    // A builder that swapped two arguments or mis-evaluated a literal
    // would pass every wrapper test and break every spark.sql caller.
    // scalars: one row through SQL text, the same expressions through the
    // wrappers — results must be identical field for field
    val scalarSql =
      "SELECT cosine_similarity(array(3d, 4d), array(4d, 3d)) AS cos, " +
        "sorted_long_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS isect, " +
        "minhash_signature(array(7L, 9L), 4) AS mh, " +
        "shingle_hashes_sorted('abcdef', 3) AS sh, " +
        "simhash64(array('a', 'b', 'a')) AS sim, " +
        "hyperplane_bucket(array(1d, 0d, 0d), 4) AS hb, " +
        "cdc_chunks('hello world hello chunk', 4, 3, 16) AS ch, " +
        "doc_fingerprint('abc abc xyz', 2) AS fp, " +
        "lexicon_hits('the cat and the dog') AS lex, " +
        "deflate_ratio('aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa') AS dr"
    val viaSql = spark.sql(scalarSql).collect()(0)
    val viaWrapper = spark.range(1).select(
      ArrayExpressions.cosineSim(expr("array(3d, 4d)"), expr("array(4d, 3d)")).as("cos"),
      ArrayExpressions.sortedLongIntersectCount(
        expr("array(1L, 2L, 5L)"), expr("array(2L, 3L, 5L)")).as("isect"),
      ArrayExpressions.minhashSignature(expr("array(7L, 9L)"), 4).as("mh"),
      ArrayExpressions.shingleHashesSorted(lit("abcdef"), 3).as("sh"),
      ArrayExpressions.simhash64(expr("array('a', 'b', 'a')")).as("sim"),
      ArrayExpressions.hyperplaneBucket(expr("array(1d, 0d, 0d)"), 4).as("hb"),
      ArrayExpressions.cdcChunks(lit("hello world hello chunk"), 4, 3, 16).as("ch"),
      ArrayExpressions.docFingerprint(lit("abc abc xyz"), 2).as("fp"),
      ArrayExpressions.lexiconHits(lit("the cat and the dog")).as("lex"),
      ArrayExpressions.deflateRatio(lit("aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")).as("dr")
    ).collect()(0)
    assert(viaSql.toString == viaWrapper.toString,
      s"SQL-text path diverged from wrapper path:\n  sql: $viaSql\n  col: $viaWrapper")
    // spot values so both paths can't be identically wrong on the basics
    assert(math.abs(viaSql.getAs[Double]("cos") - 24.0 / 25.0) < 1e-12)
    assert(viaSql.getAs[Int]("isect") == 2)

    // aggregates through SQL text under GROUP BY: top_k_by_score keeps
    // the top-2 (score desc) and vector_sum adds element-wise
    val agg = spark.sql(
      "SELECT k, top_k_by_score(s, id, 2) AS top, vector_sum(v) AS vs FROM VALUES " +
        "(0, 1d, 10L, array(1d, 2d)), (0, 3d, 11L, array(10d, 20d)), " +
        "(0, 2d, 12L, array(100d, 200d)) AS t(k, s, id, v) GROUP BY k").collect()(0)
    assert(agg.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getAs[Double]("score"), r.getAs[Long]("id"))) == Seq((3.0, 11L), (2.0, 12L)))
    assert(agg.getSeq[Double](2) == Seq(111.0, 222.0))
  }

  test("every functionBuilders entry is registered and SQL-resolvable") {
    // GraftExtensions is the only registration path: the shared session and
    // a session cloned from it resolve every name
    for (session <- Seq(spark, spark.newSession())) {
      val registry = session.sessionState.functionRegistry
      ArrayExpressions.functionBuilders.foreach { case (name, className, _) =>
        assert(registry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)), s"$name not registered")
        assert(Class.forName(className) != null) // ExpressionInfo class names stay real
      }
    }
  }

  test("EVERY kernel: interpreted eval == codegen result (factoryMode sweep)") {
    // Spark runs only one of an expression's two paths in a given plan: the
    // generated code (whole-stage codegen) or `eval`. Run every scalar
    // kernel both ways and require identical results. ConstantFolding is
    // excluded in both modes: over literal inputs it would otherwise fold
    // each call through `eval` before either path ran. Codegen fallback is
    // off, so code that fails to compile fails the test. (CODEGEN_ONLY
    // would throw on an aggregate in the row, so the aggregates get their
    // own two-mode GROUP BY below.)
    def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    // one JPEG frame: SOI, SOF0 (8-bit, height 2, width 3, one component),
    // SOS, two entropy bytes, EOI
    val frame = "FFD8FFC0000B080002000301011100FFDA0008010100003F001234FFD9"
    // RIFF/WAVE, 16-bit mono PCM, samples 1 and -1
    val wav = "52494646" + "24000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
      "64617461" + "04000000" + "0100FFFF"
    val sketch = {
      val cms = org.apache.spark.util.sketch.CountMinSketch.create(1, 4, 42)
      cms.add("a"); cms.add("a")
      hex(cms.toByteArray)
    }
    // (function, call, whether the kernel returns NULL on that input)
    val calls: Seq[(String, String, Boolean)] = Seq(
      ("sorted_long_intersect_count", "sorted_long_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L))", false),
      ("sorted_long_intersect", "sorted_long_intersect(array(1L, 2L, 5L), array(2L, 3L, 5L))", false),
      ("cosine_similarity", "cosine_similarity(array(3d, 4d), array(4d, 3d))", false),
      ("fixed_point_dist2", "fixed_point_dist2(array(1d, 5d), array(4d, 1d))", false),
      ("fixed_point_dist2", "fixed_point_dist2(array(1d), array(1d, 2d))", true),
      ("minhash_signature", "minhash_signature(array(7L, 9L), 4)", false),
      ("shingle_hashes_sorted", "shingle_hashes_sorted('abcdef', 3)", false),
      ("deflate_ratio", "deflate_ratio('aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa')", false),
      ("simhash64", "simhash64(array('a', 'b', 'a'))", false),
      ("ahash64", "ahash64(encode('abcabc', 'UTF-8'))", false),
      ("hyperplane_bucket", "hyperplane_bucket(array(1d, 0d, 0d), 4)", false),
      ("cdc_chunks", "cdc_chunks('hello world hello chunk', 4, 3, 16)", false),
      ("doc_fingerprint", "doc_fingerprint('abc abc xyz', 2)", false),
      ("lexicon_hits", "lexicon_hits('the cat and the dog')", false),
      ("char_diversity", "char_diversity('h\u00e9llo \ud834\udd1e\ud834\udd1e')", false),
      ("unicode_normalize", "unicode_normalize('e\u0301l\u00e9', 'NFC')", false),
      ("strip_accents", "strip_accents('h\u00e9llo we\u0301')", false),
      ("jpeg_width", s"jpeg_width(X'$frame')", false),
      ("jpeg_width", "jpeg_width(X'00')", true),
      ("jpeg_height", s"jpeg_height(X'$frame')", false),
      ("jpeg_height", "jpeg_height(X'FFD8FFD9')", true),
      ("cms_estimate", s"cms_estimate(X'$sketch', 'a')", false),
      ("cms_estimate", "cms_estimate(X'00', 'a')", true),
      ("wav_pcm_stats", s"wav_pcm_stats(X'$wav')", false),
      ("wav_pcm_stats", "wav_pcm_stats(X'00')", true),
      ("mjpeg_stats", s"mjpeg_stats(X'$frame')", false),
      ("mjpeg_stats", s"mjpeg_stats(X'${frame}00')", true))
    val scalars = ArrayExpressions.functionBuilders.collect {
      case (name, cls, _) if !classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateFunction].isAssignableFrom(Class.forName(cls)) => name
    }
    assert(calls.map(_._1).toSet == scalars.toSet,
      s"sweep misses ${scalars.toSet -- calls.map(_._1)}, or names a non-scalar")
    val scalarSql = calls.zipWithIndex
      .map { case ((_, call, _), i) => s"$call AS c$i" }.mkString("SELECT ", ", ", "")
    val aggSql =
      "SELECT k, top_k_by_score(s, id, 2) AS top, vector_sum(v) AS vs FROM VALUES " +
        "(0, 1d, 10L, array(1d, 2d)), (0, 3d, 11L, array(10d, 20d)), " +
        "(0, 2d, 12L, array(100d, 200d)) AS t(k, s, id, v) GROUP BY k"
    def inMode(wholeStage: Boolean, factoryMode: String): (org.apache.spark.sql.Row, String) = {
      val confs = Map(
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConstantFolding",
        "spark.sql.codegen.wholeStage" -> wholeStage.toString,
        "spark.sql.codegen.factoryMode" -> factoryMode,
        "spark.sql.codegen.fallback" -> "false")
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try (spark.sql(scalarSql).collect()(0), spark.sql(aggSql).collect()(0).toString)
      finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val (scalarCodegen, aggCodegen) = inMode(wholeStage = true, "CODEGEN_ONLY")
    val (scalarInterp, aggInterp) = inMode(wholeStage = false, "NO_CODEGEN")
    calls.zipWithIndex.foreach { case ((_, call, isNull), i) =>
      val (g, e) = (scalarCodegen.get(i), scalarInterp.get(i))
      assert(String.valueOf(g) == String.valueOf(e),
        s"$call diverges:\n  codegen:     $g\n  interpreted: $e")
      assert((e == null) == isNull, s"$call returned $e")
    }
    assert(aggCodegen == aggInterp,
      s"aggregate kernels diverge:\n  codegen:     $aggCodegen\n  interpreted: $aggInterp")
  }

  test("x60 media sniff parses REAL file bytes: 1x1 PNG, 3x2 BMP, 44.1kHz stereo WAV") {
    import spark.implicits._
    // genuine headers (PNG incl. its CRC; BMP file+info header; canonical
    // 44-byte WAV header) — ground truth for the columnar parser, so the
    // plant-and-verify x60 oracle can't hide a compensating offset error
    def bytes(hex: String): Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val png = bytes("89504e470d0a1a0a0000000d494844520000000100000001080600000090" +
      "7753de") // full IHDR chunk incl. real CRC
    val bmp = bytes("424d460000000000000036000000280000000300000002000000010018000000" +
      "00001000000013" + "0b0000130b00000000000000000000")
    val wav = bytes("524946462400000057415645666d7420100000000100020044ac000010b10200" +
      "0400100064617461" + "00000000")
    val junk = "not a media file".getBytes("UTF-8")
    val df = Seq((0L, png), (1L, bmp), (2L, wav), (3L, junk)).toDF("doc_id", "payload")
    val got = graft.operators.Multimodal.sniffPayloads(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getString(1) == "png" && got(0L).getLong(3) == 1L && got(0L).getLong(4) == 1L)
    assert(got(1L).getString(1) == "bmp" && got(1L).getLong(3) == 3L && got(1L).getLong(4) == 2L)
    assert(got(2L).getString(1) == "wav" &&
      got(2L).getLong(5) == 44100L && got(2L).getLong(6) == 2L)
    assert(got(3L).getString(1) == "unknown" && got(3L).isNullAt(3) && got(3L).isNullAt(5))
  }

  test("x78 jpeg dims: REAL javax.imageio-encoded bytes parse exactly; fill bytes walk; dirty blobs go NULL") {
    // ground truth from a genuine encoder: the JDK's ImageIO writes a
    // real JFIF JPEG (SOI, APP0, DQTs, SOF0, DHTs, SOS, entropy data,
    // EOI) — if the segment walk mis-skipped ANY table segment or read
    // the wrong endianness, these exact dims could not come back
    val img = new java.awt.image.BufferedImage(
      17, 23, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 17; y <- 0 until 23)
      img.setRGB(x, y, (x * 31 + y * 7919) & 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos), "JDK JPEG writer unavailable")
    val real = baos.toByteArray
    def dim(b: Array[Byte], w: Boolean): Any =
      ArrayExpressions.JpegSofDim(
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.BinaryType), isWidth = w).eval(null)
    assert(dim(real, w = true) == 17L, "width from real encoder bytes")
    assert(dim(real, w = false) == 23L, "height from real encoder bytes")
    // fill bytes: any run of 0xFF may pad before a marker (JPEG B.1.1.2)
    val withFill = real.take(2) ++ Array.fill[Byte](3)(0xFF.toByte) ++ real.drop(2)
    assert(dim(withFill, w = true) == 17L && dim(withFill, w = false) == 23L)
    // NULL contract: truncation before any SOF, non-JPEG magic, SOS
    // before SOF, a zero/corrupt segment length — never a throw
    def bytes(hex: String): Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(dim(real.take(20), w = true) == null)
    assert(dim("not a jpeg at all".getBytes("UTF-8"), w = true) == null)
    assert(dim(bytes("FFD8FFDA0008000000000000"), w = true) == null)
    assert(dim(bytes("FFD8FFE00000"), w = true) == null)
    assert(dim(Array.empty[Byte], w = true) == null)
    // SQL registration round-trips against the wrapper
    val hexLit = real.map("%02X".format(_)).mkString
    val viaSql = spark.sql(s"SELECT jpeg_width(unhex('$hexLit')) AS w").collect()(0).getLong(0)
    assert(viaSql == 17L)
  }

  test("cms_estimate reads count_min_sketch output in-plan: exact on a collision-free corpus, never under-counts") {
    import spark.implicits._
    // 3 distinct tokens, known multiplicities; at width 27183 x depth 5
    // the chance of ANY pairwise collision among 3 tokens is ~1e-8 per
    // row pair, and the seed is fixed — estimates are deterministically
    // exact here, which pins offsets/endianness of the read path
    val toks = (Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")).toDF("token")
    val sk = toks.agg(
      org.apache.spark.sql.functions.expr(
        "count_min_sketch(token, CAST(0.0001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)").as("sk"))
    val got = toks.distinct()
      .crossJoin(org.apache.spark.sql.functions.broadcast(sk))
      .select(col("token"), ArrayExpressions.cmsEstimate(col("sk"), col("token")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("alpha" -> 7L, "beta" -> 3L, "gamma" -> 1L))
    // a token never added: CMS may over-count but must not go negative
    val unseen = sk.select(ArrayExpressions.cmsEstimate(col("sk"), lit("never-added")).as("e"))
      .collect()(0).getLong(0)
    assert(unseen >= 0L)
    // SQL registration round-trips
    val viaSql = toks.limit(1).crossJoin(sk)
      .selectExpr("cms_estimate(sk, 'alpha') AS e").collect()(0).getLong(0)
    assert(viaSql == 7L)
  }

  test("jpeg_sof walk fuzz: arbitrary bytes never throw; planted SOF at random chain depth always parses") {
    def dim(b: Array[Byte], w: Boolean): Any =
      ArrayExpressions.JpegSofDim(
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.BinaryType), isWidth = w).eval(null)
    val rnd = new scala.util.Random(1234)
    // adversarial garbage: random bytes, random lengths, half biased to a
    // valid SOI prefix so the walk actually enters the segment loop
    for (_ <- 1 to 3000) {
      val b = new Array[Byte](rnd.nextInt(80))
      rnd.nextBytes(b)
      if (b.length >= 2 && rnd.nextBoolean()) { b(0) = 0xFF.toByte; b(1) = 0xD8.toByte }
      val r = dim(b, w = rnd.nextBoolean())
      assert(r == null || (r.asInstanceOf[Long] >= 0L && r.asInstanceOf[Long] <= 65535L),
        s"out-of-range dim $r for ${b.map("%02X".format(_)).mkString}")
    }
    // constructive: SOI + a random chain of table/APPn/COM segments with
    // random lengths and random fill-byte padding, then a SOF carrying
    // known dims — the walk must find it at ANY depth
    for (trial <- 1 to 300) {
      val out = new java.io.ByteArrayOutputStream()
      def u8(v: Int): Unit = out.write(v & 0xFF)
      u8(0xFF); u8(0xD8)
      for (_ <- 0 until rnd.nextInt(6)) {
        for (_ <- 0 until rnd.nextInt(3)) u8(0xFF) // fill bytes
        u8(0xFF)
        // any non-SOF, non-standalone, length-carrying marker
        u8(Seq(0xE0 + rnd.nextInt(16), 0xDB, 0xC4, 0xFE)(rnd.nextInt(4)))
        val payload = rnd.nextInt(40)
        u8((payload + 2) >> 8); u8((payload + 2) & 0xFF)
        for (_ <- 0 until payload) u8(rnd.nextInt(256))
      }
      val (w, h) = (1 + rnd.nextInt(65535), 1 + rnd.nextInt(65535))
      u8(0xFF); u8(Seq(0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC9, 0xCF)(rnd.nextInt(7)))
      u8(0); u8(11); u8(8) // len 11: precision + dims + 1 component
      u8(h >> 8); u8(h & 0xFF); u8(w >> 8); u8(w & 0xFF)
      u8(1); u8(1); u8(0x11); u8(0)
      val jpeg = out.toByteArray
      assert(dim(jpeg, w = true) == w.toLong, s"trial $trial width")
      assert(dim(jpeg, w = false) == h.toLong, s"trial $trial height")
    }
  }

  test("x80 wav pcm: REAL javax.sound-encoded WAV decodes exactly; dirty blobs go NULL") {
    // ground truth from a genuine encoder: the JDK's AudioSystem writes
    // a real RIFF/WAVE container around raw 16-bit LE PCM — if the chunk
    // walk or sample sign-extension were wrong, these exact statistics
    // could not come back
    val n = 1237
    val samples = Array.tabulate(n)(i => (((i * 2513 + 7) % 65536) - 32768).toShort)
    val pcm = new Array[Byte](2 * n)
    for (i <- 0 until n) {
      pcm(2 * i) = (samples(i) & 0xFF).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val real = baos.toByteArray
    def stats(b: Array[Byte]): Option[Seq[Long]] =
      Option(ArrayExpressions.WavPcmStats(
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.BinaryType)).eval(null))
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
    val got = stats(real).get
    val want = Seq(n.toLong, samples.map(_.toLong).sum,
      samples.map(s => s.toLong * s.toLong).sum,
      samples.map(_.toLong).min, samples.map(_.toLong).max)
    assert(got == want, s"real-encoder decode mismatch: $got vs $want")
    // NULL contract: truncation mid-header, mid-payload, non-RIFF bytes
    assert(stats(real.take(30)).isEmpty)
    assert(stats(real.dropRight(real.length / 2)).isEmpty)
    assert(stats("definitely not audio".getBytes("UTF-8")).isEmpty)
    assert(stats(Array.empty[Byte]).isEmpty)
    // fuzz: arbitrary bytes never throw
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 1500) {
      val b = new Array[Byte](rnd.nextInt(100))
      rnd.nextBytes(b)
      if (b.length >= 4 && rnd.nextBoolean()) {
        b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
      }
      stats(b).foreach(s => assert(s.length == 5 && s.head > 0))
    }
  }

  test("x81 mjpeg demux: two REAL javax.imageio JPEGs concatenated count as 2 frames with exact dims") {
    // genuine MJPEG: two real encoder outputs back to back — their
    // entropy streams contain whatever stuffed bytes the real Huffman
    // coder produced, so a demuxer that mishandles FF-escaping would
    // terminate the first scan early and miscount
    def realJpeg(w: Int, h: Int, seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(seed)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rnd.nextInt() & 0xFFFFFF)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", baos))
      baos.toByteArray
    }
    def stats(b: Array[Byte]): Option[Seq[Long]] =
      Option(ArrayExpressions.MjpegStats(
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.BinaryType)).eval(null))
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
    // random noise pixels maximize entropy-stream length and the chance
    // of natural FF bytes needing stuffing; 64x48 gives ~6-10 KB scans
    val a = realJpeg(64, 48, seed = 5)
    val bb = realJpeg(31, 77, seed = 9)
    assert(stats(a).contains(Seq(1L, 64L, 48L, 64L, 48L)), s"single real frame: ${stats(a)}")
    assert(stats(a ++ bb).contains(Seq(2L, 64L, 48L, 31L, 77L)),
      s"two real frames: ${stats(a ++ bb)}")
    assert(stats(bb ++ a ++ bb).contains(Seq(3L, 31L, 77L, 31L, 77L)))
    // the real streams must actually exercise byte stuffing for the
    // mishandling claim above to have teeth
    def hasStuffing(j: Array[Byte]): Boolean =
      j.sliding(2).exists(p => (p(0) & 0xFF) == 0xFF && p(1) == 0)
    assert(hasStuffing(a) || hasStuffing(bb),
      "fixture JPEGs contain no stuffed bytes — regenerate with noisier pixels")
    // NULL contract: truncation (mid-header and mid-scan), trailing
    // garbage after the last EOI, nothing decodable
    assert(stats(a.take(25)).isEmpty)
    assert(stats(a.dropRight(a.length / 3)).isEmpty)
    assert(stats(a ++ "trailing garbage".getBytes("UTF-8")).isEmpty)
    assert(stats(Array.empty[Byte]).isEmpty)
    // fuzz: arbitrary bytes never throw
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 1500) {
      val b = new Array[Byte](rnd.nextInt(120))
      rnd.nextBytes(b)
      if (b.length >= 2 && rnd.nextBoolean()) { b(0) = 0xFF.toByte; b(1) = 0xD8.toByte }
      stats(b).foreach(s => assert(s.length == 5 && s.head >= 1))
    }
  }

  test("cms_estimate on bytes that are not a sketch: NULL, never a throw") {
    val rnd = new scala.util.Random(7)
    def est(b: Array[Byte]): Any =
      ArrayExpressions.CmsEstimate(
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.catalyst.expressions.Literal.create("x",
          org.apache.spark.sql.types.StringType)).eval(null)
    for (_ <- 1 to 500) {
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      val r = est(b)
      assert(r == null || r.asInstanceOf[Long] >= 0L)
    }
    assert(est(Array.empty[Byte]) == null)
  }

  test("ahash64: strided thumbnail mean-threshold hash, hand-computed") {
    // bytes 0..63: sample i reads byte i; mean = 31.5, so bits set for
    // v > 31.5 (strict 64·v > Σ) — samples 32..63, packed MSB-first
    val ramp = Array.tabulate[Byte](64)(_.toByte)
    assert(ArrayExpressions.AHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(ramp,
        org.apache.spark.sql.types.BinaryType)).eval(null) == 0x00000000FFFFFFFFL)
    // constant payload: no byte exceeds the mean strictly -> 0
    val const = Array.fill[Byte](100)(42)
    assert(ArrayExpressions.AHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(const,
        org.apache.spark.sql.types.BinaryType)).eval(null) == 0L)
    // empty payload -> 0, and the SQL registration round-trips
    assert(ArrayExpressions.AHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array.empty[Byte],
        org.apache.spark.sql.types.BinaryType)).eval(null) == 0L)
    val viaSql = spark.sql("SELECT ahash64(encode('abcabc', 'UTF-8')) AS h").collect()(0).getLong(0)
    val viaWrapper = spark.range(1)
      .select(ArrayExpressions.ahash64(expr("encode('abcabc', 'UTF-8')")).as("h"))
      .collect()(0).getLong(0)
    assert(viaSql == viaWrapper)
  }

  test("x64: planted twins collide within Hamming 3; identical payloads at distance 0") {
    import spark.implicits._
    // ten long pseudo-random-ish distinct docs + the operator's own plant
    val docs = (0L until 10L)
      .map(i => (i, (0 until 40).map(j => s"w${(i * 7 + j * j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Multimodal.ahashNearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // docs 0 and 5 get twins (doc_id % 5 == 0); each twin must be found
    val twinPairs = pairs.filter { case (a, b, _) => b == a + 100000L }
    assert(twinPairs.map(_._1).toSet == Set(0L, 5L),
      s"expected both planted twins within Hamming 3, got ${pairs.mkString(", ")}")
    pairs.foreach { case (_, _, h) => assert(h >= 0 && h <= 3) }
  }

  test("interpreted eval matches codegen result") {
    val e = ArrayExpressions.SortedLongIntersectCount(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1L, 5L, 9L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(5L, 9L, 11L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
    assert(e.eval(null) == 2)
    // the same expression through its generated code, with no fallback to eval
    val projection = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.generate(Seq(e))
    assert(projection.apply(null).getInt(0) == 2)
  }

  test("char_diversity matches a code-point reference, incl. astral chars and empty string") {
    import spark.implicits._
    val rnd = new Random(7)
    // astral chars (musical G clef) count as ONE code point, where a
    // naive split("")/UTF-16 walk would see two surrogate halves
    val strings = Seq("", "a", "aaaa", "ab", "𝄞𝄞x", "héllo wörld") ++
      Seq.fill(20)(lowerAlpha(rnd, rnd.nextInt(80) + 1))
    val got = strings.toDF("s")
      .select(ArrayExpressions.charDiversity(col("s")).as("d"))
      .collect().map(_.getSeq[Long](0))
    strings.zip(got).foreach { case (s, d) =>
      val cps = s.codePoints().toArray.toSeq
      val counts = cps.groupBy(identity).map(_._2.size.toLong)
      val want = Seq(cps.size.toLong,
        counts.size.toLong,
        if (counts.isEmpty) 0L else counts.max,
        counts.map(c => c * c).sum)
      assert(d == want, s"for '$s'")
    }
  }

  test("unicode_normalize: NFC fuses combining marks, NFD round-trips, bad form rejected") {
    import spark.implicits._
    val decomposed = "éléphant" // e + COMBINING ACUTE, twice
    val precomposed = "éléphant"
    val r = Seq(decomposed).toDF("s")
      .select(
        ArrayExpressions.unicodeNormalize(col("s"), "NFC").as("nfc"),
        ArrayExpressions.unicodeNormalize(
          ArrayExpressions.unicodeNormalize(col("s"), "NFC"), "NFD").as("roundtrip"),
        length(col("s")).as("n_dec"))
      .collect()(0)
    assert(r.getString(0) == precomposed)
    assert(r.getString(1) == decomposed)
    assert(r.getInt(2) == precomposed.length + 2)
    // the byte-dedup motivation: distinct bytes, same text, equal after NFC
    assert(decomposed != precomposed)
    intercept[IllegalArgumentException] {
      ArrayExpressions.UnicodeNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), "NFX")
    }
  }

  test("strip_accents removes marks from composed AND decomposed forms, keeps base letters") {
    import spark.implicits._
    val rows = Seq(
      ("éléphant", "elephant"), // precomposed é
      ("éléphant", "elephant"), // decomposed e + U+0301
      ("héllo wörld", "hello world"),
      ("øre", "øre"), // ø is NOT a combining accent: unchanged
      ("plain ascii 123", "plain ascii 123"),
      ("", ""))
    val got = rows.map(_._1).toDF("s")
      .select(ArrayExpressions.stripAccents(col("s")).as("t"))
      .collect().map(_.getString(0))
    rows.map(_._2).zip(got).foreach { case (want, t) => assert(t == want) }
  }
}
