package graft.functions

import graft.core.{LangDetect, TextClean}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.{bridge, NativeCall, NativeSpec}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the reference's per-document semantics:
  *
  *  - `qclean(s)`      — the reference sanitizer (TextClean.clean)
  *  - `lang_detect(s)` — the reference keyword language detector
  *  - `sim_ratio(a,b)` — difflib SequenceMatcher.ratio (OCR confidence
  *                       primitive)
  *
  * These complement the pure-builtin columnar forms in `operators.TextOps`
  * (used for the DuckDB-oracle parity path): the native forms carry the
  * EXACT kernel semantics (incl. astral-char and CJK-branch behavior the
  * regex-chain form approximates only for BMP/ASCII input).
  */
object Kernels {
  def qclean(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(TextClean.clean(s.toString))
  def langDetect(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(LangDetect.detect(s.toString))
  def simRatio(a: UTF8String, b: UTF8String): Double =
    graft.core.DiffLib.ratio(if (a == null) "" else a.toString, if (b == null) "" else b.toString)
}

/** Every native kernel as a SQL function: one entry per name, giving the
  * kernel method, result type and argument types. Each call becomes one
  * `NativeCall` expression, a static call inside whole-stage codegen (no
  * UDF boxing, no CodegenFallback). The Column API below and
  * `graft.GraftExtensions` both build their calls from this table.
  */
object Native {
  private val Text = StringType
  private val Vec = ArrayType(FloatType)
  private val Size = IntegerType
  private val Strs = ArrayType(StringType, containsNull = false)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Matrix = ObjectType(classOf[Array[Array[Double]]])

  val table: Map[String, NativeSpec] = Seq(
    NativeSpec("qclean", Kernels.getClass, "qclean", Text, Seq(Text)),
    NativeSpec("lang_detect", Kernels.getClass, "langDetect", Text, Seq(Text)),
    NativeSpec("sim_ratio", Kernels.getClass, "simRatio", DoubleType, Seq(Text, Text)),
    NativeSpec("simhash64", SimHash.getClass, "compute", LongType, Seq(Text)),
    NativeSpec("dot_f", DotKernel.getClass, "dot", DoubleType, Seq(Vec, Vec),
      nullResult = true),
    NativeSpec("minhash_sigs", MinHashKernel.getClass, "sigs", Longs, Seq(Text, Size),
      Seq("numPerms"), nullResult = true),
    NativeSpec("shingle_set", MinHashKernel.getClass, "shingleSet", Longs, Seq(Text),
      nullResult = true),
    NativeSpec("sorted_intersect_count", MinHashKernel.getClass, "sortedIntersectCount",
      LongType, Seq(ArrayType(LongType), ArrayType(LongType))),
    NativeSpec("md5_minhash_lanes", Md5TextKernel.getClass, "minhashLanes", Strs,
      Seq(Text, Size), Seq("numPerms"), nullResult = true),
    NativeSpec("md5_window_hashes", Md5TextKernel.getClass, "windowHashes", Strs,
      Seq(Text, Size), Seq("windowWords")),
    NativeSpec("md5_simhash_bits", Md5TextKernel.getClass, "simhashMd5Bits", Text, Seq(Text)),
    NativeSpec("shingle_strs", Md5TextKernel.getClass, "shingleStrs", Strs, Seq(Text)),
    NativeSpec("wrap_lines", Md5TextKernel.getClass, "wrapLines", Strs, Seq(Text, Size),
      Seq("lineWords")),
    NativeSpec("quality_counts", TextStatsKernel.getClass, "qualityCounts", Longs, Seq(Text)),
    NativeSpec("token_count", TextStatsKernel.getClass, "tokenCount", LongType, Seq(Text)),
    NativeSpec("repetition_counts", TextStatsKernel.getClass, "repetitionCounts", Longs,
      Seq(Text)),
    NativeSpec("int8_audit", VecOpsKernel.getClass, "int8Audit", StructType(Seq(
      StructField("scale", DoubleType, nullable = true),
      StructField("sum_code", LongType, nullable = true),
      StructField("n_saturated", LongType, nullable = false))), Seq(Vec)),
    NativeSpec("plane_dots", VecOpsKernel.getClass, "planeDots", Doubles, Seq(Vec, Size, Size),
      Seq("p", "dims"), nullResult = true),
    NativeSpec("cluster_dists", VecOpsKernel.getClass, "clusterDists", Doubles,
      Seq(Vec, Matrix), Seq("centroids"), nullResult = true)
  ).map(s => s.name -> s).toMap

  def call(name: String, args: Seq[Expression]): Expression = NativeCall(table(name), args)

  def apply(name: String, args: Column*): Column =
    bridge.column(call(name, args.map(bridge.expression)))

  /** A `double[][]` constant parameter (an object-typed literal). */
  def matrix(m: Array[Array[Double]]): Column =
    bridge.column(Literal(m.map(_.clone), Matrix))
}

/** Column API for the native kernels (see `Native`). */
object functions {
  /** 64-bit SimHash fingerprint (SimHash.compute). */
  def simhash64(c: Column): Column = Native("simhash64", c)

  /** Kernel sanitizer (TextClean.clean). */
  def qclean(c: Column): Column = Native("qclean", c)

  /** Kernel language detector (LangDetect.detect) — ONE static call per
    * row. The pure-builtin `TextOps.detectLangCol` form expands each of the
    * 90 keyword scores into `greatest`, the zero-sum, and every WHEN,
    * blowing the 64 KB codegen method limit (round-1 bench: 6.5 s +
    * interpreted fallback vs < 1 s here); it remains the template for the
    * DuckDB oracle SQL only. */
  def langDetect(c: Column): Column = Native("lang_detect", c)

  /** difflib SequenceMatcher.ratio. */
  def simRatio(a: Column, b: Column): Column = Native("sim_ratio", a, b)

  /** array<float> dot product as a primitive loop (DotKernel.dot). */
  def dotf(a: Column, b: Column): Column = Native("dot_f", a, b)

  /** one-pass MinHash signature array (prod-speed variant). */
  def minhashSigs(c: Column, numPerms: Int): Column = Native("minhash_sigs", c, lit(numPerms))

  /** sorted distinct shingle-hash set (prod-speed Jaccard verify). */
  def shingleSet(c: Column): Column = Native("shingle_set", c)

  /** |A∩B| of two sorted long arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column = Native("sorted_intersect_count", a, b)

  /** ORACLE-EXACT md5-lane MinHash signatures in one fused pass (null for
    * < 3 words) — value-identical to the builtin HOF construction it
    * replaces (Md5ParitySpec). */
  def md5MinhashLanes(c: Column, numPerms: Int): Column =
    Native("md5_minhash_lanes", c, lit(numPerms))

  /** ORACLE-EXACT md5 token-window hashes in one fused pass (empty array
    * for < w words; null for null input). */
  def md5WindowHashes(c: Column, windowWords: Int): Column =
    Native("md5_window_hashes", c, lit(windowWords))

  /** ORACLE-EXACT md5 SimHash bit string in one fused pass. */
  def md5SimhashBits(c: Column): Column = Native("md5_simhash_bits", c)

  /** Sorted distinct shingle strings (set-equal to
    * array_distinct(shingles(text)); empty array for < 3 words). */
  def shingleStrs(c: Column): Column = Native("shingle_strs", c)

  /** Case-preserving content lines wrapped at `lineWords` words per line;
    * null for null input (call sites coalesce to an empty array). */
  def wrapLines(c: Column, lineWords: Int): Column = Native("wrap_lines", c, lit(lineWords))
}

object TextStats {
  /** [n_words, sum_word_chars, top_word_n, top_bigram_n] as array<long>. */
  def repetitionCounts(c: Column): Column = Native("repetition_counts", c)

  /** [n_words, n_punct, n_stop, n_chars] as array<long>. */
  def qualityCounts(c: Column): Column = Native("quality_counts", c)

  /** BPE-ish token count (letter runs | digit runs | single other glyphs). */
  def tokenCount(c: Column): Column = Native("token_count", c)
}

object VecOps {
  /** struct<scale, sum_code, n_saturated> int8 quantization audit. */
  def int8Audit(c: Column): Column = Native("int8_audit", c)

  /** All `p` hyperplane dots of a `dims`-length embedding (null on length
    * mismatch or a null element). */
  def planeDots(c: Column, p: Int, dims: Int): Column =
    Native("plane_dots", c, lit(p), lit(dims))

  /** All k squared centroid distances (null on length mismatch or a null
    * element). */
  def clusterDists(c: Column, centroids: Array[Array[Double]]): Column =
    Native("cluster_dists", c, Native.matrix(centroids))
}
