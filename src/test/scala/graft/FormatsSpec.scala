package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Source-format breadth beyond parquet/CSV/JSON: native ORC with
  * predicate pushdown, and binaryFile ingestion feeding the multimodal
  * decode path. */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  test("ORC round-trips the documents table and pushes predicates to the scan") {
    val dir = Files.createTempDirectory("orc").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").orc(s"$dir/docs")
    val back = spark.read.orc(s"$dir/docs")
    assert(back.count() === docs.count())
    val a = docs.select("doc_id", "text").collect().map(_.toString).sorted.toSeq
    val b = back.select("doc_id", "text").collect().map(_.toString).sorted.toSeq
    assert(a === b, "ORC round-trip must be lossless")
    val filtered = back.where(col("doc_id") < 10)
    filtered.count()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"),
      "predicate must push into the ORC scan like parquet")
  }

  test("binaryFile source ingests raw media into the multimodal decode path") {
    val dir = Files.createTempDirectory("media").toString
    Files.write(Paths.get(s"$dir/a.fake"), "payload-one".getBytes)
    Files.write(Paths.get(s"$dir/b.fake"), "payload-two-longer".getBytes)
    Files.write(Paths.get(s"$dir/skip.txt"), "not media".getBytes)
    val media = spark.read.format("binaryFile").option("pathGlobFilter", "*.fake").load(dir)
    // extension pruned before read; schema is the binaryFile contract
    assert(media.count() === 2)
    assert(Seq("path", "modificationTime", "length", "content")
      .forall(media.columns.contains))
    // the scan feeds the per-row envelope features directly — the same
    // plumbing multimodal_features runs on the documents fixture
    val feats = media.select(
        (col("path") +: graft.ops.Multimodal.envelopeFeatures(
          col("content"), col("length"))): _*)
      .collect()
    assert(feats.length === 2)
    assert(feats.forall(_.anyNull === false))
  }
}
