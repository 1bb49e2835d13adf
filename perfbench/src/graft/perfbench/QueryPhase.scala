package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.Queries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Row count and an order-independent content digest of one query result. */
final case class Digest(rows: Long, digest: String)

/** The contract queries of `graft.Queries` over the benchmark's tables. */
final class QueryPhase(spark: SparkSession, dataDir: String) {

  /** Seconds of one execution of `name` through the noop sink, and the
    * result it ran (the streaming queries run their stream while the
    * DataFrame is built, so a digest of it re-reads only the sink). */
  def timed(name: String): (Double, DataFrame) = {
    val t0 = System.nanoTime()
    val df = Queries.all(name)(spark, dataDir)
    df.write.format("noop").mode("overwrite").save()
    ((System.nanoTime() - t0) / 1e9, df)
  }

  /** Seconds of one execution of `name` through the digest sink, and the digest. */
  def digested(name: String): (Double, Digest) = {
    val t0 = System.nanoTime()
    val d = QueryPhase.digest(Queries.all(name)(spark, dataDir))
    ((System.nanoTime() - t0) / 1e9, d)
  }

  /** Names with no DuckDB oracle: their rows are checked by count only. */
  lazy val rowsOnly: Set[String] =
    Queries.all.keySet -- Queries.oracle.keySet -- Queries.oracleDynamic(spark, dataDir).keySet
}

object QueryPhase {
  val Stream: Seq[String] = Seq("dd_stream_exact", "dd_stream_near", "dd_stream_near_ttl")
  def batch: Seq[String] = Queries.all.keys.toSeq.filterNot(Stream.contains).sorted

  /** Canonical text of a value: doubles to 10 significant digits (a float
    * sum may differ in its last bits with task order), maps sorted. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString else "%.9e".format(d)
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count plus the 64-bit sum of per-row hashes, computed on the
    * executors (the rows never reach the driver). */
  def digest(df: DataFrame): Digest = {
    val (n, h) = df.rdd
      .mapPartitions { it =>
        var n = 0L
        var h = 0L
        it.foreach { r => n += 1; h += graft.core.Hash64(canon(r)) }
        Iterator((n, h))
      }
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    Digest(n, f"$h%016x")
  }

  /** Expected digests, one line per query: `name<TAB>rows<TAB>digest`, with
    * `-` as the digest of a rows-only query. */
  def readExpected(path: String): Map[String, Digest] =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows, d) = l.split('\t')
        name -> Digest(rows.toLong, d)
      }.toMap

  def writeExpected(path: String, got: Map[String, Digest]): Unit = {
    val body = got.toSeq.sortBy(_._1).map { case (k, d) => s"$k\t${d.rows}\t${d.digest}" }
    Files.write(Paths.get(path), (body.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** A rows-only query is checked on its row count; every other query on
    * its row count and content digest. */
  def check(name: String, got: Digest, expected: Map[String, Digest], rowsOnly: Set[String]): Check =
    expected.get(name) match {
      case None => Check("query", ok = false, s"$name: no expected digest")
      case Some(want) =>
        val ok = got.rows == want.rows && (rowsOnly.contains(name) || got.digest == want.digest)
        Check("query", ok, s"$name: got ${got.rows} rows ${got.digest}, want ${want.rows} rows ${want.digest}")
    }

  /** The digest recorded for a rows-only query. */
  def recorded(name: String, got: Digest, rowsOnly: Set[String]): Digest =
    if (rowsOnly.contains(name)) got.copy(digest = "-") else got
}
