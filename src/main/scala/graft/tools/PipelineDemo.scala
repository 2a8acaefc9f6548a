package graft.tools

import org.apache.spark.sql.functions._
import graft.driver.CrawlDriver
import graft.operators.{CorpusBridge, CrawlRound}
import graft.queries.{CorpusOps, DedupOps, SearchOps, TextOps}
import graft.sim.FixtureWeb

/**
 * End-to-end pipeline demo: the full path a training-data user runs —
 * crawl the deterministic fixture web, export the extracted text through
 * the CorpusBridge into the `documents` shape, then run the curation
 * pipeline on the export (clean gate + exact dedup, MinHash-LSH
 * candidates, Jaccard verification, sequence packing) and print the
 * per-stage accounting. Everything is one library, one session, one job
 * graph away from training shards.
 *
 * Usage: runMain graft.tools.PipelineDemo <outDir> [rounds]
 */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-pipeline-demo")
    val rounds = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = LocalSession("graft-pipeline-demo")

    // --- 1. crawl ------------------------------------------------------
    val T0  = 1000000L
    val web = CrawlRound.webFromMap(spark, FixtureWeb.generate())
    val drv = new CrawlDriver(spark, FixtureWeb.config(), web,
      store = None, numBuckets = 8)
    drv.seed(FixtureWeb.seeds, T0 - 1)
    drv.run(T0, rounds)
    val nExtracted = drv.extracted.count()
    println(s"[pipeline] crawl: $rounds rounds, " +
      s"${drv.seenSet.size} urls seen, $nExtracted pages extracted")

    // --- 2. bridge to the documents shape ------------------------------
    CorpusBridge.writeDocuments(drv.extracted, outDir)
    drv.close()
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    println(s"[pipeline] bridge: ${docs.count()} documents at " +
      s"$outDir/documents.parquet")

    // --- 3. curation over the export ------------------------------------
    val clean = TextOps.corpusClean(spark, outDir)
    val survivors = clean.count()
    val kept = clean.filter(col("keep") === 1).count()
    println(s"[pipeline] clean gate: $survivors exact-dedup survivors " +
      s"of $nExtracted pages, $kept pass the keep gate")

    val cand = DedupOps.lshCandidatePairs(spark, outDir).count()
    val verified = DedupOps.jaccardPairs(spark, outDir)
      .filter(col("inter_cnt") * 5 >= col("union_cnt") * 4).count()
    println(s"[pipeline] near-dup: $cand LSH candidate pairs, " +
      s"$verified verified at >=0.8 Jaccard")

    val packed = CorpusOps.seqPacking(spark, outDir)
      .agg(sum("n_docs"), sum("n_tokens"), sum("n_seqs")).collect()(0)
    println(s"[pipeline] packing: ${packed.getLong(0)} docs, " +
      s"${packed.getLong(1)} tokens -> ${packed.getLong(2)} " +
      "L=128 training sequences")

    // --- 4. retrieval prep over the same export --------------------------
    val chunks = CorpusOps.docChunks(spark, outDir)
      .agg(count(lit(1)), sum("n_toks")).collect()(0)
    println(s"[pipeline] chunking: ${chunks.getLong(0)} L=64/stride-48 " +
      s"retrieval chunks covering ${chunks.getLong(1)} token slots")
    val idx = SearchOps.postings(spark, outDir)
    println(s"[pipeline] index: ${idx.count()} terms; sample posting " +
      s"heads: ${idx.orderBy(col("df").desc).limit(2).collect()
        .map(r => s"'${r.getString(0)}' df=${r.getLong(1)}").mkString(", ")}")
    val balance = CorpusOps.bucketBalance(spark, outDir)
      .agg(max("doc_load_ppm"), min("doc_load_ppm")).collect()(0)
    println(s"[pipeline] shard balance: doc load " +
      s"${balance.getLong(1)}..${balance.getLong(0)} ppm of uniform")
    spark.stop()
  }
}
