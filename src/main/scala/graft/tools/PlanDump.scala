package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkEntry
import graft.driver.CrawlDriver
import graft.operators.CrawlRound
import graft.sim.FixtureWeb

/**
 * Dump physical plans. `runMain graft.tools.PlanDump [outFile]` writes the
 * executed plans of one scheduling round's outputs and of the headline
 * pipeline queries to EXPLAIN.md (or `outFile`) — the plan-shape
 * documentation the specs in PlanSpec enforce.
 * `runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...|all> <sfDir>`
 * writes `.explain("formatted")` of each named query over the tables in
 * `sfDir` to `<outDir>/<query>_<suffix>.txt` — before/after plan evidence
 * (plans/rNN/) — on a session like perfbench's query session (local[cores],
 * 2 × cores shuffle partitions, AQE on by default).
 */
object PlanDump {
  def main(args: Array[String]): Unit = args match {
    case Array(outDir, suffix, names, sfDir) =>
      dumpQueries(outDir, suffix, names, sfDir)
    case Array(outFile) => explainMd(outFile)
    case Array() => explainMd("EXPLAIN.md")
    case _ => sys.error(
      "usage: PlanDump [outFile] | PlanDump <outDir> <suffix> <q1,...|all> <sfDir>")
  }

  private def run(spark: SparkSession, sfDir: String)(name: String): DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))(
      spark, sfDir)

  private def dumpQueries(outDir: String, suffix: String, names: String,
                          sfDir: String): Unit = {
    val dir = Paths.get(outDir)
    val selected: Seq[String] =
      if (names == "all")
        SparkEntry.queries.keys.filterNot(_ == "q00_crawl_trace").toSeq.sorted
      else names.split(",").toSeq
    Files.createDirectories(dir)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = LocalSession("graft-plandump", cpus, cpus * 2)
    try {
      selected.foreach { name =>
        val plan = run(spark, sfDir)(name).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote ${name}_$suffix.txt")
      }
    } finally spark.stop()
  }

  private def explainMd(out: String): Unit = {
    val spark = LocalSession("graft-plandump")

    val t0  = 1000000L
    val cfg = FixtureWeb.config()
    val web = CrawlRound.webFromMap(spark, FixtureWeb.generate())
    val drv = new CrawlDriver(spark, cfg, web, store = None, numBuckets = 8)
    drv.seed(FixtureWeb.seeds, t0 - 1)
    drv.run(t0, 2) // warm state so the round below has cached inputs

    val res = CrawlRound.run(spark, drv.frontier, drv.hosts, drv.fetchLog,
      drv.frontier.select("url_hash").as(org.apache.spark.sql.Encoders.STRING),
      web, cfg, t0 + 2, 2, drv.seq, null)
    val sb = new StringBuilder
    sb.append("# EXPLAIN — crawl-round physical plans (fixture scale)\n\n")
    sb.append("Generated by `runMain graft.tools.PlanDump`. The per-stage\n")
    sb.append("properties asserted in `graft.queries.PlanSpec` (pushdown,\n")
    sb.append("pruning, broadcast, partial agg, codegen) apply to the query\n")
    sb.append("suite; this file shows the engine round's own dataflow.\n")
    def dump(title: String, note: String,
             df: org.apache.spark.sql.Dataset[_]): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }
    dump("Round trace (dequeue → fetch → process; NO sort in the hot path)",
      "Typed groupByKey+flatMapGroups per-host top-1 over the frontier⋈hosts " +
      "join (a static broadcast-hash join: the host leaves are counted, " +
      "and small), " +
      "left-outer joins against pages/fetch_log/robots, then one " +
      "mapPartitions running the shared Step semantics (X7 header parse " +
      "included). Emission order lives in the carried k1..k4 keys; the " +
      "trace seq is derived lazily on read — no RangePartitioner sample, " +
      "no zipWithIndex job, no RDD escape.", res.trace)
    dump("Frontier INSERT delta (URL-seen filtered discoveries)",
      "Only the round's newly-discovered rows — the driver's DeltaState " +
      "folds them as an insert part; no full-table merge appears anywhere. " +
      "The seen filter's levels 2 and 3 are one cogroup: one exchange of " +
      "the seen keys. " +
      "The ExistingRDD scans are the round-internal leaves (each " +
      "expensive subtree evaluated exactly once).", res.newFrontier)
    dump("Frontier UPDATE delta (pruned from the step leaf)",
      "Replace-by-key overlay rows: a `newF.*` projection of the stored " +
      "step output — the wide text/body/outlinks columns are not " +
      "read here.", res.updatedFrontier)
    res.cleanup()
    drv.close()

    // --- headline pipeline-query plans (the shapes PlanSpec enforces) ----
    val sf = "/root/testdata/sf0.001"
    // a query section's title starts with the query's id ("q13 ..."),
    // which prefixes its name in SparkEntry.queries
    def dumpQuery(title: String, note: String): Unit = {
      val id = title.takeWhile(_ != ' ') + "_"
      dump(title, note,
        run(spark, sf)(SparkEntry.queries.keys.find(_.startsWith(id)).get))
    }
    sb.append("\n# Pipeline-query physical plans (sf0.001)\n")
    dumpQuery("q13 Jaccard verifier (LSH-fed)",
      "Pair generation is the banded bucket self-join on (b, band_hash) — " +
      "band hashes from ONE native codegen'd `minhash_bands` call per row " +
      "(no signature shuffle); the verifier equi-joins candidates back to " +
      "token arrays by doc id. No CartesianProduct anywhere.")
    dumpQuery("q16 incremental LSH candidates (batch-broadcast)",
      "Corpus rows stream scan→minhash_bands→BroadcastHashJoin — zero " +
      "corpus shuffle; the only hash exchange carries candidate pairs " +
      "(the post-join distinct).")
    dumpQuery("q33 embedding near-dup (banded hyperplane LSH)",
      "hyper_sigs computes all 8 band signatures natively per row; " +
      "posexplode → bucket self-join on (band, sig) → exact-cosine " +
      "verification of candidates only (vec_dot). The `label` column " +
      "appears nowhere.")
    dumpQuery("q35 incremental embedding candidates (batch-broadcast)",
      "q16's shape on the embedding side: batch band signatures " +
      "broadcast, corpus never repartitioned.")
    dumpQuery("q36 IVF multiprobe top-k (probe fan-out on the query side only)",
      "The Hamming-1 probe cells are generated by exploding a small array " +
      "on the (tiny) query side; the corpus keeps exactly ONE computed " +
      "cell per row, so the join stays q31's co-partitioned equi-join — " +
      "one Generate, no `label`, no CartesianProduct.")
    dumpQuery("q37 k-means IVF build (broadcast centroids, packed-bigint argmin)",
      "One Lloyd iteration's shape, repeated: BroadcastNestedLoopJoin " +
      "against the tiny centroid side (the corpus is never shuffled for " +
      "assignment), argmin as a partial-combining HashAggregate over ONE " +
      "packed bigint (a min(struct) spelling would lower to " +
      "SortAggregate), centroid update a 64-column fixed-width partial " +
      "sum groupBy(cell).")
    dumpQuery("q25 composed corpus-clean pass (single-scan features)",
      "Exact-dedup survivors annotated with language guess, type-token " +
      "ratio and a keep verdict — all per-row features computed in the " +
      "same projection over ONE FileScan; the only exchange is the " +
      "map-side-combined group-by on the 32-hex content hash.")
    dumpQuery("q44 duplicated-span coverage (hash-keyed gram joins)",
      "Every gram group/join key is the fixed-width md5 hex — the raw " +
      "8-token gram text never reaches an exchange; the duplicated-gram " +
      "set equi-joins back to occurrences by hash, position coverage is " +
      "an explode + distinct + map-side-combined count per doc.")
    dumpQuery("q46 as-of join (carry-forward window — NO join node)",
      "Tagged union of reference (clicks) and probe (errors) rows, ONE " +
      "hash exchange on user_id, then last(_, ignoreNulls) over the " +
      "event-time window carries the latest click forward into each " +
      "error row. DuckDB answers the same query with its native ASOF " +
      "JOIN — two unrelated algorithms, identical rows.")
    dumpQuery("q52 BPE encode (trained merges inlined as literals)",
      "Training (q51) happens before this plan exists: a vocab-bounded " +
      "HashAggregate + 1-row TakeOrdered per iteration, driver-" +
      "coordinated like q37's Lloyd loop. The encode itself is ONE " +
      "FileScan of `text` + a single codegen'd projection (regexp_" +
      "replace, K literal replaces, two lengths) — no Exchange, no UDF, " +
      "no join: the merge table rides in as 8 string literals.")
    dumpQuery("q53 PageRank (one fixpoint iteration over a checkpoint leaf)",
      "The final iteration's shape — every earlier one is identical and " +
      "ends in a lazy localCheckpoint so plans never nest: edges " +
      "(persisted once, InMemoryTableScan here) equi-join the previous " +
      "ranks leaf on src, the per-destination mass sums with a partial " +
      "HashAggregate before its exchange, and a left join back to the " +
      "node list applies damping to dangling-in-degree nodes. Nothing " +
      "reaches the driver but the node count.")
    dumpQuery("q55 triangle counting (degree-ordered wedge enumeration)",
      "Every edge oriented low→high (deg·n+id packed order), wedges " +
      "generated by the equi self-join on the pivot vertex with the " +
      "order residual in-condition, closed by a (b,c) equi-join — all " +
      "shuffles are key-partitioned; no CartesianProduct, no BNLJ, " +
      "hub-degree fan-out capped at O(m^1.5).")
    dumpQuery("q59 per-source quota cap (WindowGroupLimit pre-shuffle pruning)",
      "The slot <= 20 rank filter lowers to a WindowGroupLimit pair: the " +
      "Partial node prunes each map task to its local top-20 per source " +
      "BEFORE the exchange, the Final node re-prunes after — the shuffle " +
      "carries O(sources × 20 × tasks) rows, never the corpus.")
    dumpQuery("q47 range join (bucketized to an equi-join)",
      "Intervals explode to ≤2 time bins (bin width == interval length); " +
      "the probe side equi-joins on (user_id, bin) with the residual " +
      "bounds in-condition — a shuffled hash join where the naive " +
      "inequality spelling would be a BroadcastNestedLoopJoin.")
    dumpQuery("q61 Count-Min heavy hitters (bounded-sketch shuffle + broadcast probe)",
      "The sketch build's partial aggregate caps what each map task ships " +
      "at d×w = 1024 cells regardless of corpus size; the exact top-20 " +
      "lowers to TakeOrderedAndProject (never a global sort) and the " +
      "1024-cell sketch broadcasts into the probe join.")
    dumpQuery("q62 sequence packing (one shard exchange, window + rollup co-partitioned)",
      "A single hashpartitioning(shard) exchange feeds the per-shard " +
      "cumulative-offset window AND the per-shard rollup above it — the " +
      "final aggregate reuses the window's partitioning with only a " +
      "partial/final pair, no second exchange, no global ordering.")
    dumpQuery("q64 semantic dedup (cell-scoped candidate join, dup set broadcast back)",
      "Candidates come from the trained-cell equi self-join (SemDeDup's " +
      "within-cluster O(n²/C) scope — never all-pairs, never `label`); " +
      "exact cosine via the codegen'd vec_dot expression; the dup-id set " +
      "is a broadcast LEFT SEMI back onto the corpus for the keep flag.")
    dumpQuery("q65 bigram-LM surprise (ship-the-LM broadcasts, histogram terciles)",
      "The unigram/bigram model tables are vocab-bounded map-side-combined " +
      "aggregates broadcast into the occurrence stream (CCNet's " +
      "ship-the-KenLM shape); the per-doc rollup's one corpus-keyed " +
      "exchange carries O(docs) after partial combine; tercile cutoffs " +
      "ride a 1-row broadcast computed from the value-bounded " +
      "[0,64000]-milli-bit histogram — the corpus is never sorted.")
    dumpQuery("q66 DSIR importance weights (two 64-row models broadcast)",
      "Raw and target hashed-unigram models are 64-row aggregates " +
      "(shuffles bounded by the bucket count) broadcast into the token " +
      "stream with the two 1-row totals; the only corpus-keyed exchange " +
      "is the per-doc rollup; the mean-rate threshold is a 1-row " +
      "broadcast. Nothing corpus-sized joins or sorts.")
    dumpQuery("q67 exact-substring scrub (doc-keyed rebuild, no token-level join)",
      "q44's hash-keyed gram stream feeds a map-side-combined collect_set " +
      "that collapses covered positions to ONE array row per doc, so the " +
      "rebuild join is doc-keyed O(docs) rows; the token removal is a " +
      "per-row positional array filter — no sort, no token-level join.")
    dumpQuery("q68 fuzzy decontamination (benchmark tables broadcast)",
      "The benchmark gram table and the per-benchmark size table both " +
      "broadcast into the single corpus scan (benchmarks are tiny against " +
      "the corpus); the matched-pair rollup's exchange carries only pairs " +
      "that actually share a gram.")
    dumpQuery("q70 BM25 top-10 per term (two corpus scans, WindowGroupLimit top-k)",
      "BM25's standard stats-pass + score-pass: the tf is a codegen'd " +
      "array expression over the 3-term query fan-out (the corpus token " +
      "array is NEVER exploded), df and the corpus stats broadcast back, " +
      "and the top-10 rank filter lowers to a Partial/Final " +
      "WindowGroupLimit pair so each map task pre-prunes before the " +
      "term-keyed exchange.")
    dumpQuery("q71 random projection (zero exchanges)",
      "ONE native codegen'd proj_quant call per row plus the JL " +
      "energy-ratio audit — pure scan→project, no Exchange node at all; " +
      "the map stage in front of whatever consumes the sketches.")
    dumpQuery("q73 postings build (vocab-bounded after one token shuffle)",
      "The (term, doc) tf aggregate is the only corpus-sized exchange; " +
      "the top-8 posting head pre-prunes via WindowGroupLimit and df/cf " +
      "ride the same aggregate map-side combined.")
    dumpQuery("q74 overlapping chunking (zero exchanges)",
      "Per-doc window explode + positional slice + md5 span proof — " +
      "narrow scan→generate→project, no Exchange node; the chunk table " +
      "streams straight to the reader's shards.")
    dumpQuery("q80 winnowing fingerprints (zero exchanges)",
      "3-gram md5 hashes, w=4 window minima and the md5 set-proof — all " +
      "one per-row expression chain inside whole-stage codegen; the " +
      "fingerprint table streams to whatever (hash → docs) index " +
      "consumes it.")
    dumpQuery("q83 span-corruption mask plan (zero exchanges)",
      "Block-aligned hash-selected mask spans, counts and the md5 proof " +
      "over masked tokens — a pure scan→project; the mask plan streams " +
      "straight into the training writer.")
    dumpQuery("q84 maximal duplicated spans (run merge inside one row per doc)",
      "The gram/coverage stream is q44's (hash-keyed, map-side-combined " +
      "collect_set); the gaps-and-islands merge the oracle spells with " +
      "ROW_NUMBER happens per-row in an array sort + indexed-lambda gap " +
      "scan — no window, no per-doc sort exchange, no token-level join.")
    dumpQuery("q85 long-span scrub (span-length floor, q84 plan shape)",
      "q84's merged maximal spans thresholded at 50 tokens per-row, then " +
      "the q67 scrub applied to only the long spans via exists() over " +
      "that doc's own span list — the floor adds zero exchanges over q84.")
    dumpQuery("q40 multimodal features (zero exchanges, real container decode)",
      "Container hex construct → unhex → per-partition extractFeatures " +
      "(PNG/GIF/JPEG/WAV header parse + hex-md5 checksum) is one narrow " +
      "scan→map chain; payloads never shuffle.")
    dumpQuery("q50 exact rank quantiles (value-bounded histogram, no per-source sort)",
      "Per-(source, n_chars) counts collapse the corpus to a " +
      "sources×values-bounded table BEFORE any window; the cumulative " +
      "window and the p50/p90/p99 rank picks run over that bounded domain " +
      "— same exact statistic as the r3 row_number form, but a dominant " +
      "source no longer lands in one straggler sort task (PlanSpec bans " +
      "row_number over raw docs).")
    dumpQuery("q77 source-KL mixture diagnostic ((source × lang)-bounded)",
      "Two map-side-combined aggregates plus broadcasts of the corpus " +
      "language distribution and totals — the corpus is scanned once and " +
      "never shuffled; the deterministic milli-bit log2 runs inside " +
      "whole-stage codegen.")
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
