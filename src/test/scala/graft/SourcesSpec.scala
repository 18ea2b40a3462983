package graft

import graft.queries.TaxiQueries
import graft.sources.TaxiText
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Source/sink coverage: the reference's text formats round-trip through
  * the engine (incl. transparent gzip — same single-split physics the
  * reference had, /root/reference/command:17), and the general formats
  * (csv/json/parquet) round-trip a query result.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = TaxiQueries.FixtureDir

  private def tmp(name: String): String = {
    val p = Files.createTempDirectory(s"graft-$name")
    p.toFile.deleteOnExit()
    p.toString + "/out"
  }

  test("trips text sink/source round-trip preserves Q1 results") {
    val out = tmp("trips-roundtrip")
    // formatTrips emits the reference's exact 11-field line format.
    val trips = TaxiQueries.reconstructTrips(
      spark, TaxiText.readSegments(spark, s"$dir/segments.txt"))
    TaxiQueries.formatTrips(trips).write.text(out)
    val reread = TaxiText.readTrips(spark, out)
    assert(reread.count() == trips.count())
    // distances/revenues survive the %.3f/%.2f formatting to 3/2 decimals
    val a = trips.toDF().select(col("taxi"), round(col("distanceKm"), 3).as("d"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sorted
    val b = reread.select(col("taxi"), col("dist_km")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sorted
    assert(a.sameElements(b))
  }

  test("gzipped segments input decompresses transparently and matches plain input") {
    val gzDir = Files.createTempDirectory("graft-gz")
    gzDir.toFile.deleteOnExit()
    val gzFile = gzDir.resolve("segments.txt.gz")
    val in = Files.readAllBytes(Paths.get(s"$dir/segments.txt"))
    val os = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gzFile))
    os.write(in); os.close()
    val plain = TaxiQueries.q2Daily(spark).collect().map(_.toString).toList
    val viaGz = TaxiQueries.dailyRevenue(TaxiQueries.reconstructTrips(
      spark, TaxiText.readSegments(spark, gzFile.toString)))
      .collect().map(_.toString).toList
    assert(viaGz == plain)
    // the .gz is a single split — document the physics the reference had
    assert(TaxiText.readSegments(spark, gzFile.toString).rdd.getNumPartitions == 1)
    // and the reader WARNS about it (SURVEY §4: the reference's own gzip
    // pitfall, report.pdf p.3) — fires for non-splittable codecs on a
    // parallel session, stays quiet for plain text
    assert(TaxiText.warnIfNotSplittable(spark, gzFile.toString))
    assert(TaxiText.warnIfNotSplittable(spark, "any/path/data.zst"))
    assert(!TaxiText.warnIfNotSplittable(spark, s"$dir/segments.txt"))
    assert(!TaxiText.warnIfNotSplittable(spark, "data.snappy.parquet"))
  }

  test("plain-text readers split to at least the core count") {
    val cores = spark.sparkContext.defaultParallelism
    val segs = TaxiText.readSegments(spark, s"$dir/segments.txt").rdd.getNumPartitions
    val trips = TaxiText.readTrips(spark, s"$dir/trips.txt").rdd.getNumPartitions
    assert(segs >= cores, s"segments: $segs partitions on $cores cores")
    assert(trips >= cores, s"trips: $trips partitions on $cores cores")
  }

  test("line source returns exactly spark.read.text's rows, byte for byte") {
    def bytesOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(hex(col("value").cast("binary"))).collect().map(_.getString(0)).toSeq
    def same(path: String): Unit =
      assert(bytesOf(TaxiText.lines(spark, path)) == bytesOf(spark.read.text(path)), path)
    same(s"$dir/segments.txt")
    same(s"$dir/trips.txt")
    // CRLF endings, an empty line, an invalid UTF-8 byte and no final
    // newline; each lead-in shifts where the core-count splits cut
    val body = "a,b\r\n\r\nc d\r\n".getBytes("UTF-8") ++ Array[Byte](0x62, 0xff.toByte, 0x63) ++
      "\r\n\nlast".getBytes("UTF-8")
    val base = Files.createTempDirectory("graft-lines")
    base.toFile.deleteOnExit()
    (0 to 3).foreach { lead =>
      val f = base.resolve(s"lines$lead.txt")
      Files.write(f, ("x" * lead).getBytes("UTF-8") ++ body)
      same(f.toString)
    }
  }

  test("line source fails at read time, naming the path, when nothing matches") {
    val base = Files.createTempDirectory("graft-lines-missing")
    base.toFile.deleteOnExit()
    Seq(base.resolve("absent.txt").toString, base.resolve("*.txt").toString).foreach { p =>
      // no action is taken: the throw must come from building the frame
      val e1 = intercept[java.io.FileNotFoundException](TaxiText.readSegments(spark, p))
      assert(e1.getMessage.contains(p))
      val e2 = intercept[java.io.FileNotFoundException](TaxiText.readTrips(spark, p))
      assert(e2.getMessage.contains(p))
    }
  }

  test("recompress: gz text lands as splittable parquet with the byte-identity contract") {
    import graft.sources.Recompress
    val base = Files.createTempDirectory("graft-recompress")
    base.toFile.deleteOnExit()
    // two gz files with distinct content, incl. lines that stress the
    // digest (empty line, repeated line, unicode)
    def gz(name: String, lines: Seq[String]): String = {
      val f = base.resolve(name)
      val os = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
      os.write(lines.mkString("\n").getBytes("UTF-8"))
      os.close()
      f.toString
    }
    gz("a.txt.gz", Seq("alpha", "", "alpha", "omega éü", "tail"))
    gz("b.txt.gz", (1 to 500).map(i => s"row $i payload ${i * 31}"))
    val inGlob = base.toString + "/*.txt.gz"
    // the warning path this tool answers fires on the compressed input...
    assert(TaxiText.warnIfNotSplittable(spark, inGlob))
    val outDir = base.resolve("landed").toString
    val report = Recompress.textToParquet(spark, inGlob, outDir).collect()
    // ...and does NOT apply to the landed copy
    assert(!TaxiText.warnIfNotSplittable(spark, outDir + "/part-00000.snappy.parquet"))
    assert(report.length === 2)
    assert(report.forall(_.getAs[Boolean]("ok")),
      s"byte-identity contract failed: ${report.mkString("; ")}")
    val a = report.find(_.getAs[String]("src_file").endsWith("a.txt.gz")).get
    assert(a.getAs[Long]("lines_in") === 5L)
    val b = report.find(_.getAs[String]("src_file").endsWith("b.txt.gz")).get
    assert(b.getAs[Long]("lines_in") === 500L)
    // the landed copy reconstructs each file's exact line sequence
    val rebuilt = spark.read.parquet(outDir)
      .filter(col("src_file").endsWith("a.txt.gz"))
      .orderBy("line_no").collect().map(_.getAs[String]("line")).toSeq
    assert(rebuilt === Seq("alpha", "", "alpha", "omega éü", "tail"))
    // a corrupted landing (dropped line) must fail the contract
    val badDir = base.resolve("bad").toString
    spark.read.parquet(outDir).filter(!(col("line_no") === 2 &&
        col("src_file").endsWith("a.txt.gz")))
      .write.mode("overwrite").parquet(badDir)
    val badOut = Recompress.fingerprint(
        spark.read.parquet(badDir).select("src_file", "line_no", "line"))
      .filter(col("src_file").endsWith("a.txt.gz")).head()
    val goodIn = Recompress.fingerprint(
        spark.read.parquet(outDir).select("src_file", "line_no", "line"))
      .filter(col("src_file").endsWith("a.txt.gz")).head()
    assert(badOut.getAs[Long]("digest") !== goodIn.getAs[Long]("digest"))
  }

  test("csv and json sinks round-trip a query result") {
    val df = SparkEntry.queries("q9_time_windows")(spark, "/root/testdata/sf0.001")
    val want = df.collect().map(_.toString).sorted

    val csvOut = tmp("csv")
    df.write.option("header", "true").csv(csvOut)
    val gotCsv = spark.read.option("header", "true").schema(df.schema).csv(csvOut)
      .collect().map(_.toString).sorted
    assert(gotCsv.sameElements(want))

    val jsonOut = tmp("json")
    df.write.json(jsonOut)
    val gotJson = spark.read.schema(df.schema).json(jsonOut)
      .collect().map(_.toString).sorted
    assert(gotJson.sameElements(want))
  }

  test("x53 orc roundtrip is lossless for adversarial content (same fixture as x41)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "line one\nline two", "en", "s0", 17L),
      (2L, "tab\there \"quoted\" back\\slash", "en", "s0", 28L),
      (3L, "h\u00e9llo \ud83d\udc4b \u4e2d\u6587", "zh", "s1", 10L),
      (4L, "", "en", "s1", 0L),
      (5L, null, "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.sources.Jsonl.withFormatRoundtrip(docs, "orc") { back =>
      back.orderBy("doc_id").collect().map(_.toString).toSeq
    }
    assert(got == docs.orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("x41 jsonl roundtrip is lossless for adversarial content") {
    import spark.implicits._
    // newline, tab, quote, backslash, unicode, emoji, empty string, null —
    // everything a JSON encoder must escape or a sloppy one corrupts
    val docs = Seq(
      (1L, "line one\nline two", "en", "s0", 17L),
      (2L, "tab\there \"quoted\" back\\slash", "en", "s0", 28L),
      (3L, "héllo 👋 中文", "zh", "s1", 10L),
      (4L, "", "en", "s1", 0L),
      (5L, null, "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.sources.Jsonl.withJsonlRoundtrip(docs) { back =>
      back.orderBy("doc_id").collect().map(_.toString).toSeq
    }
    assert(got == docs.orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("malformed jsonl lines drop-don't-fail (the reference's J1-3 contract on the jsonl path)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // a real-world jsonl shard: valid rows interleaved with a truncated
    // record, trailing garbage, and a wrong-typed field
    val lines = Seq(
      """{"doc_id": 1, "text": "good one", "source": "s0"}""",
      """{"doc_id": 2, "text": "truncated""",
      """not json at all""",
      """{"doc_id": "NaN", "text": "bad id type", "source": "s0"}""",
      """{"doc_id": 3, "text": "good two", "source": "s1"}""")
    val dir = tmp("dirty-jsonl")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-000.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType), StructField("_bad", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(dir)
    val good = df.filter(col("_bad").isNull && col("doc_id").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq
    assert(good == Seq((1L, "good one"), (3L, "good two")))
    // every malformed line is visible for quarantine, not silently eaten
    assert(df.filter(col("_bad").isNotNull || col("doc_id").isNull).count() == 3)
  }

  test("partitioned parquet sink prunes partitions on read") {
    val out = tmp("part-parquet")
    Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .write.partitionBy("lang").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("lang") === "en").count())
    // partition filter visible in the scan (no full-table read)
    assert(plan.contains("PartitionFilters") || plan.contains("lang"))
  }
}
