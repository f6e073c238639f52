package graft

import graft.functions.{TextHash, VectorMath}
import graft.operators.{Dedup, Multimodal, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAndMultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("base32 hash matches the md5 reference value") {
    // md5('abc') = 900150983cd24fb0… → 0x90015098 = 2416005272
    val v = Seq("abc").toDF("s")
      .select(TextHash.base32(col("s"))).head().getLong(0)
    assert(v == 2416005272L)
  }

  test("native Md5Prefix32 ≡ built-in conv(substring(md5)) chain") {
    val df = Seq("", "a", "abc", "the quick brown fox", "héllo wörld")
      .toDF("s")
      .select(TextHash.base32(col("s")).as("fast"),
        TextHash.base32Builtin(col("s")).as("ref"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("shingles: k-word windows, short docs empty") {
    val r = Seq("a b c d", "a b").toDF("text")
      .select(TextHash.shingles(col("text")).as("sh"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(r == List(List("a b c", "b c d"), Nil))
  }

  test("minhash permutation constants stay in safe integer range") {
    assert(TextHash.perms.size == 16)
    TextHash.perms.foreach { case (_, a, b) =>
      assert(a > 0 && a < (1L << 30) && b >= 0 && b < TextHash.Prime)
    }
  }

  test("identical texts share minhash signature and simhash") {
    val d = Seq((1L, "x y z w v u t"), (2L, "x y z w v u t"), (3L, "p q r s t u v"))
      .toDF("doc_id", "text")
      .withColumn("hs", TextHash.shingleHashes(col("text")))
      .withColumn("sig", TextHash.minhashSignature(col("hs")))
    val rows = d.orderBy("doc_id").select("sig").collect().map(_.getSeq[Long](0))
    assert(rows(0) == rows(1) && rows(0) != rows(2))
  }

  test("native ShingleHash32 ≡ transform(shingles, base32) composition") {
    val d = Seq("x y z w v u t", "a b", "", "one two three four",
        "héllo wörld ünïcode test words")
      .toDF("text")
      .withColumn("ws", split(col("text"), " "))
      .select(TextHash.shingleHashesFromWords(col("ws")).as("fast"),
        TextHash.shingleHashesFromWordsHof(col("ws")).as("ref"))
    d.collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
  }

  test("native SimHash32 ≡ aggregate/filter bit-vote composition") {
    val d = Seq("x y z w v u t", "one two three four five",
        "p q r s t u v w x y z")
      .toDF("text")
      .withColumn("hs", TextHash.shingleHashes(col("text")))
      .select(TextHash.simhash32(col("hs")).as("fast"), expr(
        """aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) ->
          |  acc + if(2 * size(filter(hs, h -> shiftright(h, j) % 2 = 1)) > size(hs),
          |           shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""".stripMargin).as("ref"))
    d.collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("native RollingHashSummary ≡ unrolled polynomial transform") {
    val (b, m, k) = (257L, 1000003L, 5)
    val sparkTerm = (0 until k).map(j =>
      s"element_at(bs, i + $j) * ${Seq.fill(j)(b).product.max(1L)}L").mkString(" + ")
    val fp = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.RollingHashSummary(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("text")), b, m, k))
    val d = Seq("hello world this is a test", "abcde", "aaaaaaaaaa")
      .toDF("text")
      .withColumn("bs", expr("transform(split(text, ''), c -> cast(ascii(c) as bigint))"))
      .withColumn("hs", expr(
        s"transform(sequence(1, length(text) - ${k - 1}), i -> ($sparkTerm) % $m)"))
      .select(fp.as("fast"),
        expr("array_min(hs)").as("rmin"), expr("array_max(hs)").as("rmax"),
        size(expr("array_distinct(hs)")).cast("long").as("rdis"))
    d.collect().foreach { r =>
      val s = r.getStruct(0)
      assert(s.getLong(0) == r.getLong(1) && s.getLong(1) == r.getLong(2)
        && s.getLong(2) == r.getLong(3), r.toString)
    }
  }

  test("materialized signature table feeds the same pairs as the cached path") {
    import graft.operators.Dedup
    val docs = (1L to 10L)
      .map(i => (i, s"shared prefix words number ${i % 3} tail piece here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sig").toString + "/sig"
    val onDisk = Dedup.materializeSignatures(spark, docs, dir)
    def pairs(h: org.apache.spark.sql.DataFrame) =
      Dedup.lshPairsFrom(Dedup.bandKeysFrom(h))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(onDisk) == pairs(Dedup.hashedFromDocs(docs)))
  }

  test("LSH skew guard: blocked self-join emits identical pairs on a 50%-duplicate corpus") {
    import graft.operators.{BoundedPairs, Dedup}
    // pathological: half the corpus is one identical document, so one
    // band key holds 20 members and would funnel all 190 pairs through
    // a single reducer without the guard
    val docs = ((1L to 20L).map(i => (i, "the quick brown fox jumps over the lazy dog")) ++
      (21L to 40L).map(i => (i, s"unique document number $i with its own words here")))
      .toDF("doc_id", "text")
    val bk = Dedup.bandKeysFrom(Dedup.hashedFromDocs(docs))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(Dedup.lshPairsFrom(bk, BoundedPairs.Exact(hotThreshold = Long.MaxValue)))
    val guarded = pairs(Dedup.lshPairsFrom(bk, BoundedPairs.Exact(hotThreshold = 2, shards = 3)))
    assert(plain == guarded)
    // the duplicate block really is all-pairs: C(20,2) pairs present
    assert((1L to 20L).combinations(2).forall(p => plain((p(0), p(1)))))
  }

  test("q128/q129 fuzzy verify: identical pair scores exact-match ppm, unrelated doc stays unpaired") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", "en", "web", 49L),
      (3L, "the quick brown fox jumps over the lazy dog again", "en", "web", 49L),
      (9L, "completely different words about analytics engines at scale", "en", "web", 59L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ed = Dedup.q128EditDistance.fn(spark, dir).collect()
    assert(ed.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 3L)))
    assert(ed.head.getLong(2) == 0L && ed.head.getLong(3) == 1000000L)
    val ct = Dedup.q129Containment.fn(spark, dir).collect()
    assert(ct.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 3L)))
    assert(ct.head.getLong(2) == 1000000L && ct.head.getLong(3) == 1000000L)
  }

  test("q138 phrase search: adjacency only, ordered, counted per doc") {
    import graft.operators.TextOps
    val dir = java.nio.file.Files.createTempDirectory("graft_phrase").toString
    Seq(
      (1L, "x table hash y table hash", "en", "web", 25L),   // two matches, first at 1
      (2L, "hash table", "en", "web", 10L),                  // reversed: no match
      (3L, "table x hash", "en", "web", 12L),                // gap: no match
      (4L, "table hash", "en", "web", 10L))                  // one match at 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q138PhraseSearch.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 2L, 1L), (4L, 1L, 0L)))
  }

  test("q142 delta dedup: exact dups against base drop, unique deltas survive") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_delta").toString
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "a completely different base document about spark engines at scale"
    Seq(
      (1L, a, "en", "web", 60L),  // base
      (2L, b, "en", "web", 64L),  // base
      (0L, "fresh unique delta content nobody has seen before today", "en", "web", 55L),
      (3L, a, "en", "web", 60L),  // delta, exact dup of base 1 -> dropped
      (6L, b, "en", "web", 64L),  // delta, exact dup of base 2 -> dropped
      (9L, "another novel delta document with its own words entirely", "en", "web", 56L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Dedup.q142DeltaDedup.fn(spark, dir).as[Long].collect().toList
    assert(kept == List(0L, 9L))
  }

  test("native MinHashSignature ≡ transform/array_min composition") {
    val d = Seq("x y z w v u t", "a b c d", "p q r s t u v w x y z")
      .toDF("text")
      .withColumn("hs", TextHash.shingleHashes(col("text")))
      .select(TextHash.minhashSignature(col("hs")).as("fast"), expr(
        s"transform(${TextHash.permsArraySql}, q -> array_min(transform(hs, h -> (q.a * h + q.b) % ${TextHash.Prime}L)))").as("ref"))
    d.collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
  }

  test("hyperplanes are fixed-dim, bounded, deterministic") {
    assert(VectorMath.planes.size == VectorMath.NumPlanes)
    VectorMath.planes.foreach { p =>
      assert(p.size == VectorMath.Dim)
      p.foreach(w => assert(w.abs <= 1))
    }
    assert(VectorMath.planesSparkLit == VectorMath.planesSparkLit)
  }

  test("frame-sample kernel: ceil(n/stride) frames, byte values") {
    val m = Multimodal.MediaRow(7L, Array.tabulate(130)(i => (i % 251).toByte), "raw8", 16, 9)
    val frames = (0 until (m.payload.length + 63) / 64)
      .map(k => m.payload(k * 64) & 0xff)
    assert(frames == Seq(0, 64, 128))
  }

  test("resize kernel emits a fixed-width strip for any payload size") {
    for (n <- Seq(8, 9, 100, 500)) {
      val bytes = Array.tabulate(n)(i => (i % 127).toByte)
      val px = (0 until Multimodal.ResizeTo)
        .map(j => bytes(((j.toLong * n) / Multimodal.ResizeTo).toInt) & 0xff)
      assert(px.size == 8)
      assert(px.head == bytes(0))
    }
  }

  test("redactPii counts and replaces email/ip/digit-run PII, email first") {
    import spark.implicits._
    val in = Seq(
      (1L, "contact alice.smith+x@example.co.uk or 192.168.0.1 now"),
      (2L, "card 12345678901234 and short 123456 stay split"),
      (3L, "clean text with no identifiers at all"),
      (4L, "two mails a@b.io c@d.org and ip 10.0.0.255")).toDF("doc_id", "text")
    val out = TextOps.redactPii(in, "text").orderBy("doc_id")
      .select("doc_id", "n_email", "n_ipv4", "n_digits", "text_redacted")
      .collect()
    assert(out(0).getLong(1) == 1 && out(0).getLong(2) == 1 && out(0).getLong(3) == 0)
    assert(out(0).getString(4) == "contact <EMAIL> or <IP> now")
    // 7+-digit run caught, 6-digit run untouched; email rule ran FIRST
    // so the local-part digits were not half-eaten by the number rule
    assert(out(1).getLong(3) == 1)
    assert(out(1).getString(4) == "card <NUM> and short 123456 stay split")
    assert(out(2).getString(4) == "clean text with no identifiers at all")
    assert(out(3).getLong(1) == 2 && out(3).getLong(2) == 1)
    assert(out(3).getString(4) == "two mails <EMAIL> <EMAIL> and ip <IP>")
    // plan stays a pure projection: no shuffle, no UDF
    val plan = TextOps.redactPii(in, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "redactPii must not shuffle")
  }

  test("extensions make native expressions SQL-callable") {
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT md5_prefix32('abc')").head().getLong(0) == 2416005272L)
    val sig = spark.sql(
      "SELECT minhash_signature(array(1L, 2L, 3L)) AS s").head().getSeq[Long](0)
    assert(sig.size == TextHash.NumPerms)
  }

  test("q236 exact-substring audit reconciles with a pure-Scala coverage replay") {
    val sfDir = "/root/testdata/sf0.001"
    val L = Dedup.SubstrGram
    val rows = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ")))
      .filter(_._3.length >= L)
    val grams = rows.flatMap { case (id, src, w) =>
      w.sliding(L).zipWithIndex.map { case (g, st) =>
        (id, src, w.length.toLong, st.toLong, g.mkString(" ")) }
    }
    val crossDoc = grams.groupBy(_._5)
      .filter { case (_, xs) => xs.map(_._1).distinct.length >= 2 }.keySet
    val perDoc = grams.filter(g => crossDoc(g._5))
      .groupBy(g => (g._1, g._2, g._3)).map { case ((id, src, nw), xs) =>
        val sts = xs.map(_._4).sorted
        // union of [st, st+L) intervals
        var covered = 0L; var end = -1L
        sts.foreach { st =>
          covered += math.max(0L, st + L - math.max(st, end))
          end = math.max(end, st + L)
        }
        (id, src, nw, xs.length.toLong, covered, covered * 1000000L / nw)
      }
    val expect = perDoc.toSeq
      .sortBy { case (id, _, _, _, _, ppm) => (-ppm, id) }.take(50)
    val got = Dedup.q236ExactSubstring.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
    // coverage can never exceed the doc or undercut one gram span
    got.foreach { case (_, _, nw, nd, cov, _) =>
      assert(cov <= nw && cov >= L && nd >= 1)
    }
  }
}
