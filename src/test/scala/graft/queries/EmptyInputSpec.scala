package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.{SparkEntry, SparkTestBase}

/** Empty inputs for every candidate-pair, duplicated-span and ANN query:
  * `documents` and `embeddings` with the fixture schema and no rows. Each
  * query must plan and run (thresholds, k-means seeding and the component
  * loop all see empty tables) and return no rows. */
class EmptyInputSpec extends SparkTestBase {
  private val schemas = Map(
    "documents" -> StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  private lazy val emptyDir: String = {
    val d = Files.createTempDirectory("graft-empty-input").toString
    schemas.foreach { case (t, schema) =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .write.parquet(s"$d/$t.parquet")
    }
    d
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(emptyDir))
    super.afterAll()
  }

  Seq("q12_lsh_pairs", "q13_jaccard_pairs", "q16_incr_lsh",
    "q17_incr_verify", "q18_components", "q30_ann_brute", "q31_ann_ivf",
    "q36_ann_multiprobe", "q38_kmeans_topk", "q44_dup_spans",
    "q67_exact_scrub", "q72_minhash_audit", "q78_copy_matrix",
    "q82_split_leakage", "q84_max_spans", "q85_long_span_scrub")
    .foreach { name =>
      test(s"$name returns no rows on empty inputs") {
        val df = SparkEntry.queries(name)(spark, emptyDir)
        assert(df.collect().isEmpty)
        spark.catalog.clearCache()
      }
    }
}
