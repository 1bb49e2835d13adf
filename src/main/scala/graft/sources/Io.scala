package graft.sources

import graft.model.{Doc, Schemas}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

/** Source/sink boundary (SURVEY.md §2.1 S1/S7). Sandbox storage is parquet;
  * production is an Iceberg table — SAME code path behind a format switch,
  * so the pipeline never branches on storage:
  *
  *  - prod:   `Io(format = "iceberg").readDocs(spark, "catalog.db.docs")`
  *            (snapshot commit = the atomic checkpoint the north rule
  *            requires; retention via `expire_snapshots` replaces the
  *            reference's 10-result LRU, main.py:47-48,162-172)
  *  - sandbox: `Io().readDocs(spark, "/path/docs.parquet")`
  *
  * The input schema is pinned to `input_hint`
  * (`doc_id string, spans array<struct<kind,text,media_ref,offset>>`) and
  * validated on read — schema drift fails fast at the boundary, not deep in
  * the kernel.
  */
final case class Io(format: String = "parquet") {

  def readDocs(spark: SparkSession, location: String): Dataset[Doc] = {
    import spark.implicits._
    val df = spark.read.format(format).load(location)
    validate(df)
    df.select("doc_id", "spans").as[Doc]
  }

  def writeDocs(df: DataFrame, location: String, mode: SaveMode = SaveMode.Append): Unit =
    df.write.format(format).mode(mode).save(location)

  private def validate(df: DataFrame): Unit = {
    val fields = df.schema.fieldNames.toSet
    require(fields.contains("doc_id") && fields.contains("spans"),
      s"input must have (doc_id, spans); got ${df.schema.simpleString}")
    val spanType = df.schema("spans").dataType.simpleString
    val want = Schemas.doc("spans").dataType.simpleString
    require(spanType == want, s"spans schema mismatch: $spanType != $want")
  }
}
