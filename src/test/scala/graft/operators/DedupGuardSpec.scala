package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-bucket guard + scale-safe curation composition (round-3 verdict
  * items 2 and 5): a dup-heavy corpus must not make the LSH band self-join
  * quadratic, the guard must not change results on benign corpora, the
  * composed exact-then-fuzzy pipe_curate must equal the uncomposed chain,
  * and connectedComponents must run with reliable checkpointing.
  */
class DedupGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  /** n exact copies of one viral page + a tail of distinct docs. */
  private def hotCorpus(n: Int): DataFrame = {
    import spark.implicits._
    val viral = "breaking news the quick brown fox jumps over the lazy dog again today"
    val copies = (0 until n).map(i => (i.toLong, viral))
    val tail = (0 until 50).map(i =>
      (100000L + i, s"unique document number $i about topic${i % 7} with words w${i}a w${i}b w${i}c w${i}d"))
    (copies ++ tail).toDF("doc_id", "text")
  }

  test("hot bucket: candidate count stays O(n) under 1000 exact copies (md5 path)") {
    val n = 1000
    val cand = Dedup.minhashCandidates(hotCorpus(n), "doc_id", "text", maxBucket = 16)
    val c = cand.count()
    // uncapped would be ≥ n(n-1)/2 = 499500 pairs from the viral bucket
    // alone; the star guard emits n-1 = 999 plus whatever the benign tail
    // collides on (none expected, allow slack)
    assert(c < 1200L, s"guarded candidate count $c is not O(n)")
    // connectivity preserved: all copies resolve to ONE component rooted
    // at the min id
    val comp = Dedup.connectedComponents(cand, "id_a", "id_b")
      .filter(col("id") < 100000L)
    assert(comp.select(col("component")).distinct().count() == 1L)
    assert(comp.count() == n.toLong)
  }

  test("hot bucket: native path guard yields O(n) candidates too") {
    val n = 500
    val c = Dedup.minhashCandidates(hotCorpus(n), "doc_id", "text", Dedup.Native,
      maxBucket = 16).count()
    assert(c < 700L, s"guarded native candidate count $c is not O(n)")
  }

  test("hot bucket: SRP near-dup guard is O(n) on identical vectors") {
    import spark.implicits._
    // 300 identical embeddings + 20 distinct — identical vectors share all
    // band keys, the exact-dot verify accepts star pairs at dot = 1 ≥ θ
    val v = Array.tabulate(64)(i => (if (i % 3 == 0) 1.0f else -0.5f))
    val rows = (0 until 300).map(i => (i.toLong, v)) ++
      (0 until 20).map(i => (1000L + i, Array.tabulate(64)(d =>
        math.sin(i * 64 + d + 1).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDupPairs(emb, "vec_id", "embedding",
      theta = 0.99, maxBucket = 16)
    val c = pairs.count()
    assert(c >= 299L && c < 400L, s"expected ~299 star pairs, got $c")
  }

  test("null band keys: star guard never pairs shingle-less docs") {
    import spark.implicits._
    // 40 docs with < 3 words (null signature → null band digests) + 6
    // normal docs. The `===` self-join can never match nulls, but
    // Window.partitionBy groups all null-digest rows of a band into ONE
    // bucket — an unguarded guard branch would exceed maxBucket=8 and emit
    // star pairs among completely unrelated short docs.
    val shorties = (0 until 40).map(i => (i.toLong, s"w$i only"))
    val normal = (0 until 6).map(i =>
      (1000L + i, s"some normal document number $i with plenty of words inside it"))
    val docs = (shorties ++ normal).toDF("doc_id", "text")
    for (guarded <- Seq(0, 8)) {
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = guarded)
        .filter(col("id_a") < 1000L || col("id_b") < 1000L)
      assert(cand.count() == 0L, s"maxBucket=$guarded paired shingle-less docs")
      val candN = Dedup.minhashCandidates(docs, "doc_id", "text", Dedup.Native, maxBucket = guarded)
        .filter(col("id_a") < 1000L || col("id_b") < 1000L)
      assert(candN.count() == 0L, s"native maxBucket=$guarded paired shingle-less docs")
    }
    // and the verification predicate can never launder an empty-set pair
    val degenerate = Seq((0L, 0L, 0L)).toDF("n_common", "n_a", "n_b")
      .filter(Dedup.jaccardAtLeast(col("n_common"), col("n_a"), col("n_b")))
    assert(degenerate.count() == 0L, "jaccardAtLeast(0,0,0) must not pass")
  }

  test("CC local finish string order matches UTF8String binary order") {
    import spark.implicits._
    // U+10000 (surrogate pair D800 DC00) sorts BELOW U+E000 in UTF-16
    // code-unit order but ABOVE it in UTF-8 bytes; the distributed rounds
    // compare UTF8String binary, so the local finish must agree on which
    // node roots the component
    val supp = new String(Character.toChars(0x10000))
    val pua = "\uE000"
    val edges = Seq((supp, pua), (supp + "b", pua)).toDF("a", "b")
    val dist = Dedup.connectedComponents(edges, "a", "b", localFinishEdges = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val local = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(local == dist)
    // UTF-8 order: pua (EE 80 80) < supp (F0 90 80 80); UTF-16 order would
    // root the component at supp (D800 DC00 < E000) instead
    assert(dist.forall(_._2 == pua), s"component root should be U+E000: $dist")
  }

  test("guard off vs guard with large cap: identical pairs on a benign corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val uncapped = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
  }

  test("composed pipe_curate (exact-first + guard) equals the uncomposed chain") {
    // the oracle replays the UNCOMPOSED chain (LSH over the raw augmented
    // corpus); this is the engine-side differential proving the scale-safe
    // composition is output-identical
    val dir = sf
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val aug = d.unionAll(d.select(col("doc_id") + lit(1000000L), col("text"),
      col("source"))).toDF("doc_id", "text", "source")
    val ver = Dedup.jaccardVerified(aug, "doc_id", "text")
      .filter(Dedup.jaccardAtLeast(col("n_common"), col("n_a"), col("n_b")))
    val losers = Dedup.connectedComponents(ver, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val quality = TextOps.qualityCols(col("text")).toMap
    val uncomposed = Sampling.stratified(
        aug.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"),
            quality("n_words").cast("long").as("n_words"))
          .filter(col("n_words") >= lit(30L)),
        "doc_id", "source", Map("src0" -> 100, "src1" -> 10), defaultPct = 50)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val composed = graft.Queries.all("pipe_curate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(composed == uncomposed)
  }

  test("decontaminateFast (hash grams) matches decontaminate (string grams)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val bench = d.filter(col("doc_id") % 7 === 0)
    val corpus = d.filter(col("doc_id") % 7 =!= 0)
    def collectRes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = collectRes(Dedup.decontaminate(corpus, bench, "doc_id", "text"))
    val fast = collectRes(Dedup.decontaminate(corpus, bench, "doc_id", "text", Dedup.Native))
    assert(fast == exact) // 64-bit collisions impossible at this gram count
    assert(exact.nonEmpty, "test corpus must actually contaminate")
  }

  test("CC local finish ≡ pure distributed rounds (long and string ids)") {
    import spark.implicits._
    // a 400-edge graph with chains (worst case for naive propagation),
    // stars, and disjoint pairs; plus the string-id graph that exercises
    // lexicographic component roots in both engines
    val longEdges = (0 until 400).map { i =>
      if (i % 3 == 0) (i.toLong, (i + 1).toLong)        // chains
      else if (i % 3 == 1) (1000L + i % 7, 2000L + i)   // stars
      else (5000L + i, 5000L + i + 400)                 // pairs
    }.toDF("a", "b")
    val dist = Dedup.connectedComponents(longEdges, "a", "b", localFinishEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = Dedup.connectedComponents(longEdges, "a", "b") // default: local finish
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == dist)
    val strEdges = Seq(("b9", "b10"), ("b10", "b11"), ("c1", "c2")).toDF("a", "b")
    val distS = Dedup.connectedComponents(strEdges, "a", "b", localFinishEdges = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val localS = Dedup.connectedComponents(strEdges, "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(localS == distS)
  }

  test("connectedComponents with reliable checkpointing matches default") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    // localFinishEdges = 0: force the ITERATIVE path (the local finish
    // would otherwise resolve this tiny graph before any round checkpoints)
    val reliable = Dedup.connectedComponents(edges, "id_a", "id_b",
        checkpointDir = Some(dir), localFinishEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reliable == default)
    assert(reliable == Set((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)))
    // reliable mode actually wrote checkpoint state to the shared dir
    def hasFiles(f: java.io.File): Boolean = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.exists(k => k.isFile || hasFiles(k))
    }
    assert(hasFiles(new java.io.File(dir)), "no reliable checkpoint files written")
  }
}
