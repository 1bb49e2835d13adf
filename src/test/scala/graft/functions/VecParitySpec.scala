package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 native vector kernels must be VALUE-IDENTICAL (bit-exact
  * doubles — same casts, same accumulation order) to the interpreted
  * aggregate/zip_with HOF folds they replaced, including null/length edge
  * cases. The builtin forms are reproduced here verbatim as the reference. */
class VecParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val rnd = new scala.util.Random(7)
  private def vec(n: Int): Seq[java.lang.Float] =
    Seq.fill(n)(java.lang.Float.valueOf((rnd.nextDouble() * 2 - 1).toFloat))

  private val dims = 64
  private val samples: Seq[Seq[java.lang.Float]] = Seq(
    vec(dims), vec(dims), vec(dims), vec(dims),
    Seq.fill(dims)(java.lang.Float.valueOf(0f)),        // zero vector
    vec(dims).updated(10, null: java.lang.Float),       // null element
    vec(8),                                             // length mismatch
    Seq.empty[java.lang.Float],                         // empty
    null                                                // null array
  )

  private def df = {
    import spark.implicits._
    samples.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
  }

  private def compare(name: String, native: Column, builtin: Column): Unit = {
    val rows = df.select(col("id"), native.as("got"), builtin.as("exp")).collect()
    rows.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"$name mismatch on sample ${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("dotf(v, lit floats) == aggregate(zip_with) fold, bit-exact") {
    val q = vec(dims).map(_.floatValue())
    val qArr = array(q.map(x => lit(x.toDouble)): _*)
    val builtin = aggregate(
      zip_with(col("v"), qArr, (a, b) => a.cast("double") * b),
      lit(0.0), (acc, x) => acc + x)
    compare("dot", graft.operators.Similarity.dotCol(col("v"), q), builtin)
  }

  test("srpBucket over plane_dots == per-plane fold buckets") {
    val p = graft.operators.Similarity.SrpPlanes
    val builtinBits = (0 until p).map { plane =>
      val planeVec = array((0 until dims).map(d =>
        lit(graft.operators.Similarity.planeSign(plane, d))): _*)
      val dot = aggregate(
        zip_with(col("v"), planeVec, (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1 << plane)).otherwise(lit(0))
    }
    compare("srpBucket",
      graft.operators.Similarity.srpBucket(col("v"), dims),
      builtinBits.reduce(_ + _))
  }

  test("plane_dots == zip_with/aggregate struct fold, lane for lane") {
    val p = 48
    val planeStructs = array((0 until dims).map { d =>
      struct((0 until p).map(pl =>
        lit(graft.operators.Similarity.planeSign(pl, d)).as(s"p$pl")): _*)
    }: _*)
    val terms = zip_with(col("v"), planeStructs, (x, ps) =>
      struct((0 until p).map(pl => (x.cast("double") * ps(s"p$pl")).as(s"p$pl")): _*))
    val init = struct((0 until p).map(pl => lit(0.0).as(s"p$pl")): _*)
    val folded = aggregate(terms, init, (acc, t) =>
      struct((0 until p).map(pl => (acc(s"p$pl") + t(s"p$pl")).as(s"p$pl")): _*))
    // fold lanes null-poison individually; the native form nulls the whole
    // array — compare lane-wise through the same null lens the CONSUMERS
    // use (band-key sign tests): when(dot >= 0, 1).otherwise(0)
    val nativeDots = VecOps.planeDots(col("v"), p, dims)
    val nativeKeys = array((0 until p).map(pl =>
      when(nativeDots(pl) >= 0, lit(1)).otherwise(lit(0))): _*)
    val builtinKeys = array((0 until p).map(pl =>
      when(folded(s"p$pl") >= 0, lit(1)).otherwise(lit(0))): _*)
    compare("planeKeys", nativeKeys, builtinKeys)
    // and bit-exact dot values on the clean samples
    val clean = df.filter(col("id") < 5)
    val rows = clean.select(nativeDots.as("got"),
      array((0 until p).map(pl => folded(s"p$pl")): _*).as("exp")).collect()
    rows.foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
  }

  test("cluster_dists == zip_with/aggregate struct fold, bit-exact") {
    val k = 8
    val cents = Array.tabulate(k, dims)((_, _) => rnd.nextDouble() * 2 - 1)
    val centStructs = array((0 until dims).map { d =>
      struct((0 until k).map(c => lit(cents(c)(d)).as(s"d$c")): _*)
    }: _*)
    val diffs = zip_with(col("v"), centStructs, (x, cs) =>
      struct((0 until k).map { c =>
        val t = x.cast("double") - cs(s"d$c")
        (t * t).as(s"d$c")
      }: _*))
    val init = struct((0 until k).map(c => lit(0.0).as(s"d$c")): _*)
    val folded = aggregate(diffs, init, (acc, x) =>
      struct((0 until k).map(c => (acc(s"d$c") + x(s"d$c")).as(s"d$c")): _*))
    // same argmin consumer lens as withCluster
    val nd = VecOps.clusterDists(col("v"), cents)
    def argmin(ds: Seq[Column]): Column = {
      val m = least(ds: _*)
      ds.zipWithIndex.reverse.foldLeft(lit(0)) { case (acc, (d, i)) =>
        when(d === m, lit(i)).otherwise(acc)
      }
    }
    compare("clusterArgmin",
      argmin((0 until k).map(nd(_))),
      argmin((0 until k).map(c => folded(s"d$c"))))
    val clean = df.filter(col("id") < 5)
    val rows = clean.select(nd.as("got"),
      array((0 until k).map(c => folded(s"d$c")): _*).as("exp")).collect()
    rows.foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
  }

  test("int8_audit == builtin transform/aggregate/filter chain") {
    val v = col("v")
    val scale = array_max(transform(v, x => abs(x.cast("double"))))
    val codes = when(scale === 0d,
        transform(v, _ => lit(0))).otherwise(
        transform(v, x => round(x.cast("double") / scale * 127d).cast("int")))
    // compare through the query's lens (field extraction): a null input
    // array yields a null struct natively vs a struct of nulls builtin,
    // but every EXTRACTED column is null either way — and field
    // extraction is exactly what quantizeInt8Audit does
    val a = VecOps.int8Audit(col("v"))
    val rows = df.select(col("id"),
      a.getField("scale").as("g0"), a.getField("sum_code").as("g1"),
      a.getField("n_saturated").as("g2"),
      scale.as("e0"),
      aggregate(codes, lit(0L), (acc, c) => acc + c).as("e1"),
      size(filter(codes, c => abs(c) === 127)).cast("long").as("e2")).collect()
    rows.foreach { r =>
      (0 until 3).foreach { i =>
        assert(r.get(1 + i) == r.get(4 + i),
          s"int8Audit field $i mismatch on sample ${r.getLong(0)}: " +
            s"${r.get(1 + i)} vs ${r.get(4 + i)}")
      }
    }
  }
}
