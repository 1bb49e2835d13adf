package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the training-data-pipeline operators on small
  * constructed corpora (the oracle parity checks live in scripts/selfcheck
  * + the driver's DuckDB diff; these pin the semantics). */
class OperatorSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog near the wide river bank today"), // near-dup
      (4L, "completely different text about contracts and monthly lease payments due"),
      (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(corpus, "doc_id", "text")
      .filter(col("n_copies") >= 2).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("keeper") == 1L)
    assert(out.head.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH surfaces exact and near dup candidates, not unrelated docs") {
    val cand = Dedup.minhashCandidates(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), s"exact dup pair missing: $cand")
    // near-dup 3 shares most shingles with 1/2 — at 4 bands of 2 rows the
    // collision probability is high; unrelated 4 must not pair with 1
    assert(!cand.contains((1L, 4L)) && !cand.contains((2L, 4L)), s"false pair: $cand")
  }

  test("native minhash candidates: exact dups always pair, unrelated never; null for <3 words") {
    import spark.implicits._
    val cand = Dedup.minhashCandidates(corpus, "doc_id", "text", Dedup.Native)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), s"exact dup pair missing: $cand")
    assert(!cand.contains((1L, 4L)) && !cand.contains((2L, 4L)), s"false pair: $cand")
    // <3 words → null signature → never a candidate
    assert(!cand.exists(p => p._1 == 5L || p._2 == 5L), s"short doc must drop: $cand")
    val sig = corpus.select(graft.functions.functions.minhashSigs(col("text"), 8).as("s"))
      .collect().map(r => Option(r.get(0)))
    assert(sig.count(_.isEmpty) == 1, "exactly the 2-word doc has a null signature")
  }

  test("native jaccard verify agrees with the HOF twin on overlap counts") {
    import spark.implicits._
    val native = Dedup.jaccardVerified(corpus, "doc_id", "text", Dedup.Native)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val hof = Dedup.jaccardVerified(corpus, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // candidate sets may differ (different hash families) but any pair both
    // surface must carry IDENTICAL exact counts — the verify math is the
    // same set intersection, just hashed vs string shingles
    val common = native.keySet.intersect(hof.keySet)
    assert(common.contains((1L, 2L)), s"exact dup pair missing from ${native.keySet} / ${hof.keySet}")
    for (k <- common)
      assert(native(k) == hof(k), s"pair $k: native=${native(k)} hof=${hof(k)}")
  }

  test("line ops: derived line structure, shape counts, and the keep rule") {
    import spark.implicits._
    // doc 15 (%3=0 AND %5=0): header + teaser injected; 17 words → 3
    // content lines (8+8+1) → 6 lines total, 1 bullet (header), 1
    // ellipsis (teaser); 1/6 ≤ 20% → keep.
    // doc 10 (%5=0 only): 9 words → 2 content lines + footer + teaser =
    // 4 lines, ellipsis 1/4 > 20% → drop (the short-teaser-doc branch).
    val words17 = (1 to 17).map(i => s"w$i").mkString(" ")
    val words9 = (1 to 9).map(i => s"w$i").mkString(" ")
    val df = Seq((15L, words17), (10L, words9)).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.linesCol(col("text"), col("doc_id")).as("ll"))
    val rows = df.select(col("doc_id") +:
        TextOps.lineShapeCols(col("ll")).map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep", expr(TextOps.LineRule).cast("int"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(rows(15L) == ((6L, 1L, 1L, 1)), s"got ${rows(15L)}")
    assert(rows(10L) == ((4L, 0L, 1L, 0)), s"got ${rows(10L)}")
    // exact line content of doc 15, in order
    val ll = df.filter(col("doc_id") === 15L).select(col("ll"))
      .head().getSeq[String](0)
    assert(ll == Seq(TextOps.HeaderLine,
      (1 to 8).map(i => s"w$i").mkString(" "),
      (9 to 16).map(i => s"w$i").mkString(" "),
      "w17", TextOps.FooterLine, TextOps.ReadMoreLine), s"got $ll")
  }

  test("boilerplate line removal: injected lines cut, content lines kept") {
    import spark.implicits._
    // 35 docs (> BoilerMinDocs) sharing the injected footer; content
    // lines are unique per doc → only injected lines reach the threshold
    val docs = (0 until 35).map(i =>
      (i.toLong, (1 to 10).map(j => s"d${i}w$j").mkString(" "))).toDF("doc_id", "text")
    val lined = docs.select(col("doc_id"),
      TextOps.linesCol(col("text"), col("doc_id")).as("ll"))
    val boiler = lined.select(col("doc_id"), explode(col("ll")).as("line"))
      .groupBy(col("line")).agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= TextOps.BoilerMinDocs)
      .collect().map(_.getString(0)).toSet
    // footer hits all 35 docs; header/teaser hit 12/7 docs (< 30);
    // unique content lines never qualify
    assert(boiler == Set(TextOps.FooterLine), s"got $boiler")
    // and the REGISTERED query end-to-end (real corpus): every doc must
    // carry at least the footer as boilerplate, the cleaned fingerprint
    // must differ from a fingerprint that kept all lines, and counts
    // must be internally consistent
    val res = graft.Queries.all("dd_lines_boilerplate")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (n, nb) = (r.getLong(1), r.getLong(2))
      assert(nb >= 1L && nb <= n, s"doc ${r.getLong(0)}: n_boiler $nb of $n")
    }
    val full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        md5(array_join(TextOps.linesCol(col("text"), col("doc_id")), "\n")
          .cast("binary")).as("all_fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    res.foreach { r =>
      assert(r.getString(3) != full(r.getLong(0)),
        s"doc ${r.getLong(0)}: clean_fp should differ once boilerplate is cut")
    }
  }

  test("PII redaction: emails and phone shapes out, counts match, idempotent") {
    import spark.implicits._
    val rows = Seq(
      (1L, "write to a.b+c@sub.example.org or x@y.io, call 555-0199 or 555 0200 today"),
      (2L, "no pii here at all"),
      (3L, "already <EMAIL> redacted")
    ).toDF("doc_id", "text")
    val out = rows.select(Seq(col("doc_id"),
        TextOps.redactPiiCol(col("text")).as("red")) ++
        TextOps.piiCountCols(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) == (("write to <EMAIL> or <EMAIL>, call <PHONE> or <PHONE> today", 2, 2)), out(1L))
    assert(out(2L) == (("no pii here at all", 0, 0)))
    assert(out(3L) == (("already <EMAIL> redacted", 0, 0)))
    // idempotent: redacting redacted text changes nothing
    val twice = rows.select(TextOps.redactPiiCol(TextOps.redactPiiCol(col("text"))).as("r"))
      .as[String].collect().toSet
    assert(twice == out.values.map(_._1).toSet)
  }

  test("stratified sample: deterministic, partition-layout independent, honors rates") {
    import spark.implicits._
    val rows = (1L to 1000L).map(i => (i, if (i % 2 == 0) "en" else "zh")).toDF("doc_id", "lang")
    val rates = Map("en" -> 25, "zh" -> 100)
    val kept = Sampling.stratified(rows, "doc_id", "lang", rates, defaultPct = 50)
      .select("doc_id").as[Long].collect().toSet
    // repartitioned input selects the IDENTICAL set (pure per-row hash)
    val kept2 = Sampling.stratified(rows.repartition(7), "doc_id", "lang", rates, defaultPct = 50)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == kept2, "selection must not depend on partitioning")
    // zh stratum (odd ids) kept whole; en stratum near its 25% rate
    assert((1L to 1000L).filter(_ % 2 == 1).forall(kept.contains))
    val enKept = kept.count(_ % 2 == 0)
    assert(enKept > 75 && enKept < 175, s"en rate off: $enKept/500 at 25%")
    // matches the hash formula exactly
    val manual = (1L to 1000L).filter { i =>
      val b = ((i * 2654435761L) % 4294967296L) % 100
      b < (if (i % 2 == 0) 25 else 100)
    }.toSet
    assert(kept == manual)
  }

  test("band index probe: batch near-dups hit the base index, unrelated miss") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("bandidx").toString + "/idx"
    Dedup.buildBandIndex(corpus, "doc_id", "text", path)
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank today"), // = doc 1
      (102L, "totally unrelated sentence about astronomy telescopes and distant galaxies tonight")
    ).toDF("doc_id", "text")
    val hits = Dedup.probeBandIndex(spark, path, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((101L, 1L)) && hits.contains((101L, 2L)), s"exact dup must hit: $hits")
    assert(!hits.exists(_._1 == 102L), s"unrelated batch doc must miss: $hits")
  }

  test("band index append: probing base+appended equals a fresh full rebuild") {
    import spark.implicits._
    val base = corpus.filter(col("doc_id") <= 3)
    val day2 = Seq(
      (6L, "astronomy telescopes observe distant spiral galaxies through clear mountain air tonight"),
      (7L, "monthly lease payments due under completely different contract terms this quarter")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bandappend").toString
    val incr = s"$tmp/incr"
    Dedup.buildBandIndex(base, "doc_id", "text", incr)
    Dedup.appendBandIndex(day2, "doc_id", "text", incr)
    val fresh = s"$tmp/fresh"
    Dedup.buildBandIndex(base.unionAll(day2), "doc_id", "text", fresh)
    val probeDocs = Seq(
      (101L, "astronomy telescopes observe distant spiral galaxies through clear mountain air tonight"), // = appended 6
      (102L, "the quick brown fox jumps over the lazy dog near the river bank today") // = base 1/2
    ).toDF("doc_id", "text")
    def probe(path: String) = Dedup.probeBandIndex(spark, path, probeDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaAppend = probe(incr)
    assert(viaAppend == probe(fresh), "appended index must behave like a rebuild")
    assert(viaAppend.contains((101L, 6L)), s"appended doc must be probe-visible: $viaAppend")
    assert(viaAppend.contains((102L, 1L)), s"base doc must stay probe-visible: $viaAppend")
  }

  test("index consistency check flags a torn append; re-append recovers") {
    import spark.implicits._
    val base = corpus.filter(col("doc_id") <= 3)
    val day2 = Seq((8L, "entirely new prose about deep sea vents and chemosynthetic bacteria colonies"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("torn").toString + "/idx"
    Dedup.buildBandIndex(base, "doc_id", "text", path)
    // simulate the torn state appendBandIndex documents: bands landed
    // (bands/ is appended FIRST, matching the build-path ordering where
    // sets/ last marks completeness — round-3 advice), crash before sets
    Dedup.bandRows(day2, "doc_id", "text")
      .write.mode("append").parquet(s"$path/bands")
    val torn = Dedup.checkIndexConsistency(spark, path, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(torn == Set((8L, "bands_only")), s"torn state must be flagged: $torn")
    // documented recovery: re-append the batch (downstream distinct/min
    // absorbs the doubled set rows), then the index is consistent again
    Dedup.appendBandIndex(day2, "doc_id", "text", path)
    assert(Dedup.checkIndexConsistency(spark, path, "doc_id").isEmpty)
    val probe = Dedup.probeBandIndex(spark, path,
        day2.select((col("doc_id") + 100).as("doc_id"), col("text")), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == Set((108L, 8L)), s"recovered doc must be probe-visible exactly once: $probe")
  }

  test("connected components: chains, triangles, singleton edges resolve to min id") {
    import spark.implicits._
    // one 5-node PATH (worst case for naive propagation — needs >1 star
    // round), one triangle with a chord, one isolated pair; ids chosen so
    // lexicographic string order != insertion order is exercised ("b10" < "b9")
    val edges = Seq(
      ("a1", "a2"), ("a2", "a3"), ("a3", "a4"), ("a4", "a5"),
      ("b9", "b10"), ("b10", "b11"), ("b9", "b11"),
      ("c1", "c2"),
      ("a1", "a1") // self-edge must be ignored
    ).toDF("x", "y")
    val got = Dedup.connectedComponents(edges, "x", "y")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map(
      "a1" -> "a1", "a2" -> "a1", "a3" -> "a1", "a4" -> "a1", "a5" -> "a1",
      "b9" -> "b10", "b10" -> "b10", "b11" -> "b10", // "b10" < "b9" as strings
      "c1" -> "c1", "c2" -> "c1"), s"wrong components: $got")
  }

  test("connected components: differential vs union-find on pseudo-random graphs") {
    import spark.implicits._
    // deterministic LCG edge sets over a small id space — exercises merged
    // clusters, dangling chains, and isolated pairs without flaky inputs
    var seed = 12345L
    def next(bound: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    for (trial <- 1 to 4) {
      val nEdges = 5 + next(25)
      val edges = Seq.fill(nEdges)((next(16).toLong, next(16).toLong))
        .filter(e => e._1 != e._2)
      // union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) parent(find(a)) = find(b)
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> x).toMap.keys
        .map { x =>
          val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
            .filter(y => find(y) == find(x))
          x -> members.min
        }.toMap
      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expect, s"trial $trial (${edges.size} edges): $got != $expect\nedges=$edges")
    }
  }

  test("connected components: a 64-node path converges within the star-algorithm bound") {
    import spark.implicits._
    // worst case for naive propagation (O(n) rounds); large-star/small-star
    // must finish a 64-node path in <= 10 rounds (O(log^2 n))
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(path, "a", "b", maxIters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 64 && got.forall(_._2 == 0L),
      s"path must fully resolve to root 0 within 10 rounds: ${got.sortBy(_._1).take(8).toSeq}...")
  }

  test("connected components: empty edge set yields empty output") {
    import spark.implicits._
    val none = Seq.empty[(String, String)].toDF("x", "y")
    assert(Dedup.connectedComponents(none, "x", "y").isEmpty)
  }

  test("jaccard verification: identical docs = full overlap, near-dups partial") {
    val rows = Dedup.jaccardVerified(corpus, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (c12, a12, b12) = rows((1L, 2L))
    assert(c12 == a12 && a12 == b12, "identical docs must fully overlap")
    rows.get((1L, 3L)).foreach { case (c, a, b) =>
      assert(c < math.max(a, b) && c > 0, "near-dup should partially overlap")
    }
  }

  test("shingles: 3-word windows, normalized") {
    import spark.implicits._
    val sh = Seq(("A  quick   Brown fox", 1)).toDF("text", "i")
      .select(Dedup.shingles(col("text")).as("sh")).as[Seq[String]].head()
    assert(sh == Seq("a quick brown", "quick brown fox"))
  }

  test("brute-force ANN: self is rank 1; k bounds output") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f), 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(top.head == ((1, 0L)))
    assert(top(1) == ((2, 1L)))
    assert(top.length == 3)
  }

  test("SRP bucketing: identical vectors share a bucket; query finds its own bucket") {
    import spark.implicits._
    val v = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val vecs = Seq((0L, v), (1L, v), (2L, v.map(-_))).toDF("vec_id", "embedding")
    val b = vecs.select(col("vec_id"), Similarity.srpBucket(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b(0L) == b(1L))
    val found = Similarity.lshBucketedTopK(vecs, "vec_id", "embedding", v.toSeq, 5)
      .collect().map(_.getLong(1)).toSet
    assert(found.contains(0L) && found.contains(1L))
  }

  test("multimodal stub decode: deterministic metadata, format sniffing") {
    import spark.implicits._
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 0, 0, 0, 1, 2, 3)
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0x01, 0x02)
    val df = Seq((1L, png), (2L, jpg), (3L, "plain".getBytes("UTF-8")))
      .toDF("id", "payload")
    val metas = Multimodal.decodeMeta(df, "id", "payload")
      .collect().map(m => m.media_id -> m).toMap
    assert(metas(1L).format == "png")
    assert(metas(2L).format == "jpeg")
    assert(metas(3L).format == "bin")
    assert(metas(3L).byte_len == 5L)
    // deterministic: same payload → same checksum+dims
    val again = Multimodal.decodeMeta(df, "id", "payload").collect().map(m => m.media_id -> m).toMap
    assert(again == metas)
  }

  test("Io: schema validation rejects wrong span shape; roundtrip preserves docs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-io").toString
    val docs = graft.pipeline.Fixtures.testDocsDS(spark)
    graft.sources.Io().writeDocs(docs.toDF(), s"$tmp/docs")
    val back = graft.sources.Io().readDocs(spark, s"$tmp/docs")
    assert(back.collect().map(_.doc_id).toSet == docs.collect().map(_.doc_id).toSet)
    val bad = Seq(("a", Seq(1, 2))).toDF("doc_id", "spans")
    bad.write.mode("overwrite").parquet(s"$tmp/bad")
    intercept[IllegalArgumentException] {
      graft.sources.Io().readDocs(spark, s"$tmp/bad")
    }
  }

  test("SRP near-dup: finds identical/near vectors via band candidates, verifies exact dot") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.cos(i * 0.7).toFloat)
    val norm = math.sqrt(base.map(x => x.toDouble * x).sum).toFloat
    val unit = base.map(_ / norm)
    val near = unit.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.001f else v }
    val far = Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f) / 8f)
    val vecs = Seq((1L, unit), (2L, unit), (3L, near), (4L, far))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDupPairs(vecs, "vec_id", "embedding", theta = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors share every band → always candidates → verified
    assert(pairs.contains((1L, 2L)), s"identical pair missing: $pairs")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"near pair missing: $pairs") // cos≈1 → all 48 plane signs agree
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"far vector must fail the exact-dot verify: $pairs")
  }

  test("dot_f == aggregate(zip_with(...)) fold, including null/length edge semantics") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array[java.lang.Float](1.0f, 2.0f, 3.0f), Array[java.lang.Float](4.0f, 5.0f, 6.0f)),
      (2L, Array[java.lang.Float](1.5f, -2.5f), Array[java.lang.Float](0.5f, 2.0f)),
      (3L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f)), // length mismatch
      (4L, Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 1.0f)) // null element
    ).toDF("id", "a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val out = rows.select(col("id"),
        graft.functions.functions.dotf(col("a"), col("b")).as("native"), hof.as("fold"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    for ((id, (n, f)) <- out)
      assert(n == f, s"row $id: native=$n fold=$f must agree (incl. nulls)")
    assert(out(1L)._1.contains(32.0))
    assert(out(3L)._1.isEmpty && out(4L)._1.isEmpty)
  }

  test("as-of join: latest right at-or-before left; same-ts matches; unmatched dropped") {
    import spark.implicits._
    // left (clicks): id, key, t        right (views): id, key, t
    val left = Seq((100L, 1L, 10L), (101L, 1L, 20L), (102L, 1L, 5L), (103L, 2L, 50L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((200L, 1L, 8L), (201L, 1L, 10L), (202L, 1L, 15L), (203L, 9L, 1L))
      .toDF("event_id", "user_id", "ts")
    val out = graft.operators.AsOf.asofJoin(left, right, "user_id", "ts", "event_id",
        "click_id", "view_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(100L) == 201L, "same-timestamp right row must match (<=)")
    assert(out(101L) == 202L, "latest preceding right wins")
    assert(!out.contains(102L), "left before any right must be dropped (inner)")
    assert(!out.contains(103L), "key with no right side must be dropped")
  }

  test("as-of join matches a brute-force reference on hash-generated data with ts ties") {
    import spark.implicits._
    import graft.core.Hash64
    // deterministic corpus with duplicate timestamps (ts % 16 forces ties
    // within and across sides) — the events table has none, so this pins
    // the tie rules the hand case can't reach at volume
    val lefts = (0 until 120).map(i =>
      (1000L + i, Hash64.pick(s"ak$i", 3).toLong, Hash64.pick(s"at$i", 16).toLong))
    val rights = (0 until 80).map(i =>
      (2000L + i, Hash64.pick(s"bk$i", 3).toLong, Hash64.pick(s"bt$i", 16).toLong))
    val got = graft.operators.AsOf.asofJoin(
        lefts.toDF("event_id", "user_id", "ts"),
        rights.toDF("event_id", "user_id", "ts"),
        "user_id", "ts", "event_id", "lid", "rid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: per left row, the right row with max (ts, id) among
    // rights with same key and ts <= left ts
    val expected = lefts.flatMap { case (lid, k, t) =>
      val cands = rights.filter { case (_, rk, rt) => rk == k && rt <= t }
      if (cands.isEmpty) None
      else Some(lid -> cands.maxBy { case (rid, _, rt) => (rt, rid) }._1)
    }.toMap
    assert(got == expected,
      s"diff: got-only=${(got.toSet -- expected.toSet).take(3)} exp-only=${(expected.toSet -- got.toSet).take(3)}")
  }

  test("size guard: over-budget docs routed to the rejected side output") {
    import spark.implicits._
    import graft.model.{Doc, Span}
    val small = Doc("d1", Seq(Span("text", "hello world", "", 0)))
    val big = Doc("d2", Seq(Span("text", "x" * 200, "", 0), Span("text", "y" * 200, "", 1)))
    val nullSpans = Doc("d3", null) // must pass the guard (0 bytes), not vanish
    val ds = spark.createDataset(Seq(small, big, nullSpans))
    val (ok, rejected) = graft.pipeline.Extract.sizeSplit(spark, ds, maxBytes = 100)
    assert(ok.collect().map(_.doc_id).toSet == Set("d1", "d3"))
    val rej = rejected.collect()
    assert(rej.length == 1)
    assert(rej.head.getString(0) == "d2")
    assert(rej.head.getLong(1) == 400L)
    assert(rej.head.getString(2) == "too_large")
  }

  test("size guard honors MEDIA bytes via the store's metadata estimate") {
    import spark.implicits._
    import graft.model.{Doc, Span}
    // tiny text, but the store reports one media object as 20 MB — the
    // reference's 10 MB cap applies to the DOWNLOADED media, not just the
    // inline text payload (main.py:256-303); the guard must reject before
    // any page decode
    object BigMediaStore extends graft.media.MediaStore {
      override def pageCount(ref: String): Int = 1
      override def page(ref: String, p: Int) =
        graft.media.PageMedia(ref, p, Nil, "x", noisy = false)
      override def byteEstimate(ref: String): Long =
        if (ref == "mem://huge/0") 20L * 1024 * 1024 else 100L
    }
    val docs = Seq(
      Doc("ok", Seq(Span("text", "small", "", 0), Span("image", "", "mem://ok/0", 1))),
      Doc("huge", Seq(Span("text", "small", "", 0), Span("pdf", "", "mem://huge/0", 1))))
    val (ok, rej) = graft.pipeline.Extract.sizeSplit(spark,
      spark.createDataset(docs), maxBytes = 10L * 1024 * 1024, store = BigMediaStore)
    assert(ok.collect().map(_.doc_id).toSet == Set("ok"))
    val r = rej.collect()
    assert(r.length == 1 && r.head.getString(0) == "huge")
    assert(r.head.getLong(1) > 20L * 1024 * 1024, "estimate must include media bytes")
  }

  test("size guard partitions the corpus exactly: accepted ∪ rejected == input, disjoint") {
    import spark.implicits._
    import graft.model.{Doc, Span}
    // hash-sized docs straddling the cap, plus null-spans
    val docs = (0 until 64).map { i =>
      val n = graft.core.Hash64.pick(s"sz$i", 120)
      if (i % 13 == 7) Doc(s"d$i", null)
      else Doc(s"d$i", Seq(Span("text", "x" * n, "", 0)))
    }
    val ds = spark.createDataset(docs)
    val (ok, rej) = graft.pipeline.Extract.sizeSplit(spark, ds, maxBytes = 60)
    val okIds = ok.collect().map(_.doc_id).toSet
    val rejIds = rej.collect().map(_.getString(0)).toSet
    assert(okIds.intersect(rejIds).isEmpty, "branches must be disjoint")
    assert(okIds ++ rejIds == docs.map(_.doc_id).toSet, "no doc may vanish")
    assert(rejIds.nonEmpty && okIds.nonEmpty, "test corpus must straddle the cap")
  }

  test("UrlMeta: filename inference replicates the reference chain") {
    import graft.sources.UrlMeta
    // content-disposition wins, quotes stripped (main.py:265-269)
    assert(UrlMeta.inferFilename(Some("""attachment; filename="report.pdf""""),
      "http://x/y", None) == "report.pdf")
    assert(UrlMeta.inferFilename(Some("attachment; filename='scan.jpg'"),
      "http://x/y", None) == "scan.jpg")
    // header without filename= → URL basename, query stripped (main.py:272)
    assert(UrlMeta.inferFilename(Some("inline"), "http://a/b/doc.pdf?sig=1", None) == "doc.pdf")
    // trailing slash → empty basename → document.pdf
    assert(UrlMeta.inferFilename(None, "http://a/b/", None) == "document.pdf")
    // no extension → content-type guess: pdf / image / default pdf (main.py:275-283)
    assert(UrlMeta.inferFilename(None, "http://a/file", Some("application/pdf")) == "file.pdf")
    assert(UrlMeta.inferFilename(None, "http://a/file", Some("image/png")) == "file.jpg")
    assert(UrlMeta.inferFilename(None, "http://a/file", Some("text/plain")) == "file.pdf")
    assert(UrlMeta.inferFilename(None, "http://a/file", None) == "file.pdf")
    // kind dispatch is case-insensitive .pdf suffix (main.py:323)
    assert(UrlMeta.kindOf("A.PDF") == "pdf")
    assert(UrlMeta.kindOf("a.png") == "image")
  }

  test("SRP/IVF index append: base+appended search equals a fresh full rebuild") {
    import spark.implicits._
    // hash-derived components (sin(i*a+d*b) is ~17-periodic in i — ids 170
    // and 187 got near-identical vectors and broke rank determinism)
    val all = (0L until 200L).map { i =>
      (i, Array.tabulate(64)(d =>
        (graft.core.Hash64.pick(s"iv|$i|$d", 2001) - 1000) / 1000.0f))
    }
    val (base, delta) = all.splitAt(140)
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx-append").toString
    // query = an APPENDED vector: proves the delta is searchable (its own
    // rank-1 hit must be itself), not just that old results survive
    val q = all(170)._2.toSeq

    Similarity.buildSrpIndex(base.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$tmp/srp")
    Similarity.appendSrpIndex(delta.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$tmp/srp")
    Similarity.buildSrpIndex(all.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$tmp/srp_full")
    val srpApp = Similarity.lshIndexedTopK(spark, s"$tmp/srp", "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val srpFull = Similarity.lshIndexedTopK(spark, s"$tmp/srp_full", "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(srpApp == srpFull, s"append=$srpApp rebuild=$srpFull")
    assert(srpApp.head == ((1, 170L)), s"appended vector must be its own top hit: $srpApp")

    val cents = Similarity.kmeansCentroids(all.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 4, iters = 2)
    Similarity.buildIvfIndex(base.toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, s"$tmp/ivf")
    Similarity.appendIvfIndex(delta.toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, s"$tmp/ivf")
    Similarity.buildIvfIndex(all.toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, s"$tmp/ivf_full")
    val ivfApp = Similarity.ivfTopKIndexed(spark, s"$tmp/ivf", "vec_id", "embedding", q, 10, cents)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val ivfFull = Similarity.ivfTopKIndexed(spark, s"$tmp/ivf_full", "vec_id", "embedding", q, 10, cents)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(ivfApp == ivfFull, s"append=$ivfApp rebuild=$ivfFull")
    assert(ivfApp.head == ((1, 170L)), s"appended vector must be its own top hit: $ivfApp")
  }

  test("IVF: k-means converges on separated clusters; probe finds the right bucket") {
    import spark.implicits._
    // two well-separated clusters in 4-d
    val mk = (base: Float, i: Long) => (i, Array(base, base, base, base).zipWithIndex
      .map { case (v, d) => v + 0.01f * ((i + d) % 3) })
    val vecs = ((0L until 20L).map(mk(1.0f, _)) ++ (20L until 40L).map(mk(-1.0f, _)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 3)
    assert(cents.length == 2)
    // centroids should land near +1 and -1 means
    val signs = cents.map(c => math.signum(c.sum)).sorted
    assert(signs.toSeq == Seq(-1.0, 1.0), s"centroids not separated: ${cents.map(_.mkString(",")).mkString(" | ")}")
    // querying near the positive cluster must return positive-cluster ids
    val top = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      Seq(1.0f, 1.0f, 1.0f, 1.0f), 5, cents, nprobe = 1)
      .collect().map(_.getLong(1))
    assert(top.forall(_ < 20L), s"IVF probed wrong bucket: ${top.mkString(",")}")
  }
}
