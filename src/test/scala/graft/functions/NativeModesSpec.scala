package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every `Native` table entry gives the same rows with codegen off as with
  * default codegen. With whole-stage codegen off and `NO_CODEGEN`
  * projections, StaticInvoke's interpreted `eval` finds each kernel method
  * by reflection from the declared argument types, so a declared type that
  * does not match the kernel's signature fails here and nowhere else. */
class NativeModesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("t", StringType), StructField("u", StringType),
    StructField("v", ArrayType(FloatType)), StructField("w", ArrayType(FloatType)),
    StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType))))

  // row 1: a normal text and equal-length vectors; row 2: a text under 3
  // words and vectors of mismatched length; row 3: all null
  private val rows = Seq(
    Row(1, "the quick brown fox jumps over the lazy dog, the fox", "a quick brown dog",
      Seq(0.5f, -1f, 2f, 0.25f), Seq(1f, 1f, -1f, 0f), Seq(1L, 3L, 5L), Seq(3L, 5L, 7L)),
    Row(2, "two words", "", Seq(1f, 2f, 3f), Seq(1f, 2f, 3f, 4f), Seq.empty[Long], Seq(2L)),
    Row(3, null, null, null, null, null, null))

  private val centroids = Array(Array(0d, 0d, 0d, 0d), Array(1d, -1d, 0.5d, 2d))

  /** The input column for argument `i` of type `t`; every INT constant is 4,
    * the vector length. */
  private def arg(t: DataType, i: Int): Column = t match {
    case StringType => col(Seq("t", "u")(i))
    case ArrayType(FloatType, _) => col(Seq("v", "w")(i))
    case ArrayType(LongType, _) => col(Seq("a", "b")(i))
    case IntegerType => lit(4)
    case _: ObjectType => Native.matrix(centroids)
  }

  private def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every native function: interpreted eval equals codegen, null in gives null out") {
    val names = Native.table.keys.toSeq.sorted
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(col("id") +: names.map { n =>
        Native(n, Native.table(n).argTypes.zipWithIndex.map { case (t, i) => arg(t, i) }: _*).as(n)
      }: _*)
    def run() = df.orderBy("id").collect().toSeq
    val compiled = run()
    val interpreted = withConfs(Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))(run())
    assert(compiled.length == rows.length)
    for ((n, j) <- names.zipWithIndex; r <- compiled.indices) {
      assert(interpreted(r).get(j + 1) == compiled(r).get(j + 1),
        s"$n row ${r + 1}: interpreted ${interpreted(r).get(j + 1)} vs codegen ${compiled(r).get(j + 1)}")
    }
    for (n <- names) assert(compiled(2).isNullAt(names.indexOf(n) + 1), s"$n: null input")
    // kernel-returned nulls: < 3 words, and vectors of mismatched length
    for (n <- Seq("md5_minhash_lanes", "minhash_sigs", "shingle_set", "dot_f", "plane_dots",
        "cluster_dists")) {
      assert(compiled(1).isNullAt(names.indexOf(n) + 1), s"$n: kernel null on row 2")
    }
  }

  test("a constant parameter below 1, or an empty matrix, is an analysis error naming the function") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    for ((n, spec) <- Native.table.toSeq.sortBy(_._1); bad <- spec.params.indices) {
      val first = spec.argTypes.length - spec.params.length
      val args = spec.argTypes.zipWithIndex.map {
        case (_: ObjectType, i) if i == first + bad => Native.matrix(Array.empty)
        case (IntegerType, i) if i == first + bad => lit(0)
        case (t, i) => arg(t, i)
      }
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(Native(n, args: _*)))
      assert(e.getMessage.contains(n) && e.getMessage.contains(spec.params(bad)), e.getMessage)
    }
    // numPerms ×2, windowWords, lineWords, p, dims, centroids
    assert(Native.table.values.map(_.params.length).sum == 7)
  }
}
