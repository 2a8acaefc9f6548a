package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for a large-scale training-data pipeline, over
 * the `documents` table: exact (hash group-by), MinHash signatures,
 * MinHash+LSH candidate pairs (shingle → minhash → band → bucket-join),
 * n-gram Jaccard, SimHash. Every hash is derived from md5/sha256 of
 * deterministic strings so the DuckDB oracles reproduce values exactly;
 * every ratio is kept in exact integer arithmetic (counts, not floats).
 *
 * Scale notes: the shingle explode is a narrow map (no shuffle); minhash
 * group-bys combine map-side; the LSH band join shuffles only
 * (doc, band-hash) pairs — the whole point of LSH at 100 TB is that the
 * candidate join replaces the quadratic all-pairs compare. The Jaccard
 * verifier consumes exactly those LSH candidate pairs (q12 → q13), so the
 * verification stage is ~linear in corpus size too.
 */
object DedupOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Exact dedup: group on truncated SHA-256 of the full text; keep-id =
    * min doc_id per group (the canonical survivor rule). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(substring(sha2(col("text"), 256), 1, 32).as("text_hash"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))

  val dedupExactSql: String =
    """SELECT substr(sha256(text), 1, 32) AS text_hash,
      |  COUNT(*) AS cnt, MIN(doc_id) AS keep_id
      |FROM documents GROUP BY 1""".stripMargin

  /** Word-3-gram shingles (needs ≥3 tokens) — the oracle-side spelling;
    * the Spark side folds shingling into the native minhash expressions. */
  private val shinglesSql: String =
    """SELECT doc_id,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS toks,
      |      unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS i
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)""".stripMargin

  /** MinHash signature: 8 hash families h_j(sh) = md5(j:sh), signature =
    * per-doc min per family — ONE native codegen'd `minhash_sigs` call per
    * row (functions/VecSig.scala), no shuffle: the per-family min folds
    * inside the row, so the signature build is a pure scan→map pipeline.
    * (The explode(shingle×family)+groupBy spelling this replaced computes
    * identical values — VecSigSpec pins the parity — and remains the shape
    * to reach for if single documents were ever large enough to need their
    * shingle set split across tasks; pipeline documents are length-bounded,
    * and at 100 TB the shuffle it saves is ~8× the corpus token count.) */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr("minhash_sigs(toks)")))
      .toDF("doc_id", "j", "minhash")
  }

  val minhashSignaturesSql: String =
    s"""SELECT doc_id, j, MIN(md5(j || ':' || sh)) AS minhash
       |FROM (SELECT doc_id, sh, unnest(generate_series(0, 7)) AS j
       |      FROM ($shinglesSql))
       |GROUP BY 1, 2""".stripMargin

  /** MinHash+LSH near-dup candidates: 4 bands × 2 rows; docs sharing any
    * band bucket become a candidate pair. Band hashes come straight from
    * the narrow per-row `minhash_bands` expression (no signature shuffle —
    * the only exchanges key on (b, band_hash) for the bucket self-join). */
  def lshCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    // persisted: the self-join's two sides are separate subtrees (the
    // broadcast build side shares no Exchange with the probe side), so
    // without the cache every consumer computes the minhash band table —
    // 8 md5 families per shingle, the family's hottest expression —
    // TWICE; production LSH pipelines materialize the signature table
    // for the same reason
    val bands = narrowBands(docs(s, dir)).persist()
    val a = bands.select(col("doc_id").as("doc_a"), col("b"),
      col("band_hash"))
    val b = bands.select(col("doc_id").as("doc_b"), col("b"),
      col("band_hash"))
    a.join(b, Seq("b", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  val lshCandidatePairsSql: String =
    s"""WITH sig AS (${minhashSignaturesSql.replace("\n", "\n  ")}),
       |bands AS (
       |  SELECT doc_id, (j >> 1) AS b,
       |    md5(MAX(CASE WHEN j % 2 = 0 THEN minhash END) || '|' ||
       |        MAX(CASE WHEN j % 2 = 1 THEN minhash END)) AS band_hash
       |  FROM sig GROUP BY 1, 2)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.b = b.b AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id""".stripMargin

  /** The pair verifier of q13, q17, q72, q78 and q82: every (doc_a, doc_b)
    * pair joined (doc-keyed, shuffle ∝ candidates) to both docs' rows of
    * `sides` (doc_id, toks, ...), whose columns arrive suffixed `_a`/`_b`,
    * plus the unigram-set `inter_cnt`/`union_cnt` of toks_a and toks_b.
    * `sides` is persisted: the two join sides are separate subtrees that
    * would otherwise each compute it. */
  private[queries] def verifyPairs(pairs: DataFrame,
                                   sides: DataFrame): DataFrame = {
    val cached = sides.persist()
    def side(sfx: String) = cached.select(cached.columns.toSeq.map(c =>
      col(c).as(if (c == "doc_id") s"doc$sfx" else s"$c$sfx")): _*)
    pairs.join(side("_a"), Seq("doc_a")).join(side("_b"), Seq("doc_b"))
      .withColumn("inter_cnt",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("union_cnt",
        size(array_union(col("toks_a"), col("toks_b"))).cast("long"))
  }

  /** Unigram-set Jaccard verification of the LSH candidate pairs (q12),
    * in exact integer arithmetic (emit intersection/union counts; the
    * ≥0.5 threshold is the integer comparison 2·|∩| ≥ |∪|). Verifying
    * ONLY the LSH-bucketed candidates is the entire point of LSH at
    * 100 TB: the candidate set is ~linear in corpus size, where the
    * r1 same-source self-join was O(Σ n_source²) — quadratic within each
    * source at scale. Each side of the pair joins back to its token
    * array by doc_id (equi-joins on unique keys, shuffle ∝ candidates). */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    verifyPairs(lshCandidatePairs(s, dir), docs(s, dir).select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks")))
      .select("doc_a", "doc_b", "inter_cnt", "union_cnt")
      .filter(col("inter_cnt") * 2 >= col("union_cnt"))

  val jaccardPairsSql: String =
    s"""WITH pairs AS (${lshCandidatePairsSql.replace("\n", "\n  ")}),
       |d AS (SELECT doc_id,
       |    list_distinct(string_split(text, ' ')) AS toks FROM documents)
       |SELECT doc_a, doc_b, inter_cnt, union_cnt FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_cnt,
       |    CAST(len(a.toks) + len(b.toks)
       |      - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS union_cnt
       |  FROM pairs p
       |  JOIN d a ON p.doc_a = a.doc_id
       |  JOIN d b ON p.doc_b = b.doc_id)
       |WHERE inter_cnt * 2 >= union_cnt""".stripMargin

  /** q72: MinHash estimator audit — for every LSH candidate pair (q12),
    * the sketch-estimated similarity (matching MinHash families / 8, in
    * permille — each family matches with probability = shingle-Jaccard)
    * beside the exact unigram-set Jaccard, and their gap. The q60/q61
    * pattern applied to the dedup sketch: the correctness gate doesn't
    * just check that the sketch computes, it audits how far the estimate
    * sits from truth on every pair the index surfaced. (The estimator
    * tracks SHINGLE-set Jaccard; the exact column is unigram-set Jaccard,
    * so err_permille bounds estimator noise plus the shingle↔unigram gap —
    * exact text duplicates pin both at 1000.)
    *
    * Scale shape: candidates are ~linear in corpus size (q12's LSH
    * argument); each side equi-joins back to its per-row signature/token
    * arrays by doc_id, so the shuffle carries O(candidates), and the
    * family-match count is a codegen'd zip_with over two 8-element
    * arrays. */
  def minhashAudit(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sides = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr("minhash_sigs(toks)").as("sig"),
        array_distinct(col("toks")).as("toks"))
    verifyPairs(lshCandidatePairs(s, dir), sides)
      .select(col("doc_a"), col("doc_b"),
        expr("cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y)," +
          " v -> v)) as bigint)").as("match_fams"),
        col("inter_cnt"), col("union_cnt"))
      .withColumn("est_permille", col("match_fams") * 125)
      .withColumn("jacc_permille", expr("(inter_cnt * 1000) div union_cnt"))
      .withColumn("err_permille",
        abs(col("est_permille") - col("jacc_permille")))
      .drop("inter_cnt", "union_cnt")
  }

  val minhashAuditSql: String =
    s"""WITH pairs AS (${lshCandidatePairsSql.replace("\n", "\n  ")}),
       |sig AS (${minhashSignaturesSql.replace("\n", "\n  ")}),
       |m AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
       |      AS BIGINT) AS match_fams
       |  FROM pairs p
       |  JOIN sig sa ON sa.doc_id = p.doc_a
       |  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
       |  GROUP BY 1, 2),
       |d AS (SELECT doc_id,
       |    list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |jx AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_cnt,
       |    CAST(len(a.toks) + len(b.toks)
       |      - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS union_cnt
       |  FROM pairs p
       |  JOIN d a ON p.doc_a = a.doc_id
       |  JOIN d b ON p.doc_b = b.doc_id)
       |SELECT m.doc_a, m.doc_b, m.match_fams,
       |  m.match_fams * 125 AS est_permille,
       |  (jx.inter_cnt * 1000) // jx.union_cnt AS jacc_permille,
       |  ABS(m.match_fams * 125
       |    - (jx.inter_cnt * 1000) // jx.union_cnt) AS err_permille
       |FROM m JOIN jx USING (doc_a, doc_b)""".stripMargin

  /** q80: winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS local fingerprinting scheme): 3-gram md5 hashes, windows of
    * w = 4 consecutive hashes, the minimum of each window selected, the
    * distinct selections forming the document's fingerprint set. The
    * guarantee that makes it a dedup primitive: any shared run of ≥
    * w + k − 1 = 6 tokens between two documents shares at least one
    * selected fingerprint. Output per doc: window count, fingerprint
    * count, density in ppm (winnowing's expected density is 2/(w+1) ≈
    * 400000 ppm) and an md5 proof over the sorted selection (the q49/q67
    * idiom — the hash pins the exact set both engines derived).
    *
    * Scale shape: ONE narrow per-row expression chain — no explode, no
    * shuffle; the fingerprint table is what a downstream (hash → docs)
    * index would group, exactly like q11's signatures. */
  def winnowing(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 6) // ≥ w + k - 1 so ≥1 full window
      .withColumn("g", expr(
        "transform(sequence(1, size(toks) - 2), i -> md5(concat_ws(' ', " +
          "element_at(toks, i), element_at(toks, i + 1), " +
          "element_at(toks, i + 2))))"))
      .withColumn("sel", expr(
        "array_distinct(transform(sequence(1, size(g) - 3), " +
          "j -> array_min(slice(g, j, 4))))"))
      .select(col("doc_id"),
        expr("cast(size(g) - 3 as bigint)").as("n_windows"),
        expr("cast(size(sel) as bigint)").as("n_fp"),
        expr("(cast(size(sel) as bigint) * 1000000) div " +
          "cast(size(g) - 3 as bigint)").as("fp_ppm"),
        expr("md5(concat_ws('|', array_sort(sel)))").as("fp_md5"))

  val winnowingSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents
      |           WHERE len(string_split(text, ' ')) >= 6),
      |g AS (SELECT doc_id,
      |        list_transform(generate_series(1, len(toks) - 2),
      |          i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |          AS g
      |      FROM t),
      |sel AS (SELECT doc_id, CAST(len(g) - 3 AS BIGINT) AS n_windows,
      |          list_distinct(list_transform(
      |            generate_series(1, len(g) - 3),
      |            j -> list_min(g[j:j+3]))) AS sel
      |        FROM g)
      |SELECT doc_id, n_windows, CAST(len(sel) AS BIGINT) AS n_fp,
      |  (CAST(len(sel) AS BIGINT) * 1000000) // n_windows AS fp_ppm,
      |  md5(array_to_string(list_sort(sel), '|')) AS fp_md5
      |FROM sel""".stripMargin

  /** q78: cross-source duplication matrix — where the near-duplication
    * actually comes from: every LSH candidate pair (q12) attributed to its
    * (source_a, source_b) cell with the candidate count and how many pairs
    * the exact-Jaccard verifier (q13's 2·|∩| ≥ |∪| rule) confirms. The
    * corpus-analytics rollup behind "which sites mirror which" that decides
    * crawl-side blocklists and per-source quotas (q59).
    *
    * Scale shape: pairs are ~linear in corpus size (q12's LSH argument)
    * and each side equi-joins its doc row by id, so every shuffle is
    * candidate-bounded; the matrix itself is |sources|²-bounded with
    * map-side combine. Source labels are normalized so (a,b) and (b,a)
    * land in one cell. */
  def copyMatrix(s: SparkSession, dir: String): DataFrame =
    verifyPairs(lshCandidatePairs(s, dir), docs(s, dir).select(col("doc_id"),
        col("source").as("src"), array_distinct(split(col("text"), " "))
          .as("toks")))
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        when(col("inter_cnt") * 2 >= col("union_cnt"), 1L)
          .otherwise(0L).as("is_dup"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("n_candidates"),
        sum(col("is_dup")).cast("long").as("n_dups"))

  val copyMatrixSql: String =
    s"""WITH pairs AS (${lshCandidatePairsSql.replace("\n", "\n  ")}),
       |d AS (SELECT doc_id, source,
       |        list_distinct(string_split(text, ' ')) AS toks
       |      FROM documents),
       |cell AS (
       |  SELECT LEAST(a.source, b.source) AS source_a,
       |    GREATEST(a.source, b.source) AS source_b,
       |    CASE WHEN len(list_intersect(a.toks, b.toks)) * 2 >=
       |      len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
       |      THEN 1 ELSE 0 END AS is_dup
       |  FROM pairs p
       |  JOIN d a ON p.doc_a = a.doc_id
       |  JOIN d b ON p.doc_b = b.doc_id)
       |SELECT source_a, source_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
       |  CAST(SUM(is_dup) AS BIGINT) AS n_dups
       |FROM cell GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- incremental dedup
  // The corpus-side analog of the crawl's URL-seen problem: dedup a NEW
  // batch of documents against the accumulated corpus (prior snapshot),
  // with work ∝ batch, never ∝ corpus. The batch/corpus split is derived
  // in-query (batch = doc_id ≥ ⌊4·max/5⌋) so the same operator runs at
  // every scale factor; in production the threshold is the snapshot
  // boundary and the corpus-side hashes/signatures are precomputed once
  // and stored (exactly what tables.SnapshotStore holds for the crawl).

  /** Batch/corpus split point t = ⌊max(doc_id)·4/5⌋, read to the driver
    * (ONE row — the bounded-model pattern of the q37 centroids): inlined
    * as a literal the split predicate pushes into the parquet scan
    * (PushedFilters), where the r5 crossJoin-a-1-row-frame spelling kept
    * BOTH branches computing the full corpus's hashes/band signatures
    * before filtering — the batch side of every incremental operator paid
    * a full-corpus pass for its ~1/5 slice. In production t is the stored
    * snapshot boundary, a constant known before the query. */
  private[queries] def thresholdVal(d: DataFrame,
                                    keyCol: String = "doc_id"): Long = {
    val r = d.agg(expr(s"cast(max($keyCol)*4 div 5 as bigint)")).head
    if (r.isNullAt(0)) 0L else r.getLong(0) // empty table → empty split
  }

  /** q15: exact incremental dedup — batch documents whose text hash is NOT
    * in the corpus, one survivor per hash (min doc_id), with the batch
    * duplicate count. Reuses the crawl engine's U1/J2 seen-filter stack
    * verbatim (broadcast bloom prefilter → per-partition cuckoo refinement
    * → exact probe in the same cogroup, operators/SeenFilter.scala): all
    * three levels are conservative, so the result is exact and the DuckDB
    * anti-join oracle reproduces it, while at 10^10-document scale the
    * bloom drops almost every already-seen batch doc without a shuffle. */
  def incrDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = thresholdVal(docs(s, dir))
    val d = docs(s, dir).select(col("doc_id"),
      substring(sha2(col("text"), 256), 1, 32).as("text_hash"))
    // persisted: three consumers (count, bloom build, the seen side of the
    // cogroup that runs levels 2 and 3) — without it each action re-scans
    // the parquet and re-hashes the corpus text (guide §5: cache what is
    // reused across actions; exchange reuse never crosses actions)
    val corpus = d.filter(col("doc_id") < t)
      .select(col("text_hash")).as[String].persist()
    val batch = d.filter(col("doc_id") >= t)
    val bloom = new graft.operators.SeenFilter.SeenBloom()
    bloom.mergeBatch(
      graft.operators.SeenFilter.buildBloom(corpus, bloom), corpus.count())
    val cands = batch.select(col("text_hash").as("url_hash"),
      col("doc_id").cast("string").as("url"))
      .as[graft.operators.SeenFilter.Candidate].persist()
    graft.operators.SeenFilter.filterNew(s, cands, corpus, bloom)
      .toDF()
      .groupBy(col("url_hash").as("text_hash"))
      .agg(min(col("url").cast("long")).as("keep_id"),
        count(lit(1)).as("batch_cnt"))
  }

  val incrDedupExactSql: String =
    """WITH t AS (SELECT max(doc_id)*4//5 AS t FROM documents),
      |b AS (SELECT doc_id, substr(sha256(text), 1, 32) AS text_hash
      |      FROM documents CROSS JOIN t WHERE doc_id >= t.t),
      |c AS (SELECT DISTINCT substr(sha256(text), 1, 32) AS text_hash
      |      FROM documents CROSS JOIN t WHERE doc_id < t.t)
      |SELECT text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS batch_cnt
      |FROM b WHERE text_hash NOT IN (SELECT text_hash FROM c)
      |GROUP BY 1""".stripMargin

  /** Per-doc MinHash band signatures computed as a NARROW per-row
    * expression (shingle array → per-family min inside the row — the same
    * values as q11's explode+groupBy, without its shuffle): the corpus
    * side of the incremental join is a pure scan→map pipeline. The band
    * hashes come from ONE native codegen'd `minhash_bands` call per row
    * (functions/VecSig.scala — the interpreted higher-order-function
    * spelling re-derived the shingle array once per family and cost 12 s
    * of q16's sf0.1 wall; value parity pinned by VecSigSpec). */
  private def narrowBands(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(d.sparkSession)
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr("minhash_bands(toks)")))
      .toDF("doc_id", "b", "band_hash")
      .withColumn("b", col("b").cast("long"))
  }

  /** q16: incremental LSH candidates — batch docs vs corpus docs sharing a
    * MinHash band bucket (q12's semantics, restricted to new×old pairs).
    * The batch band signatures are BROADCAST, so the corpus side streams
    * scan→map→join with ZERO shuffle of corpus rows; the only exchange in
    * the plan carries candidate pairs (∝ batch). That is the shape that
    * scales: a 10^10-doc corpus is never repartitioned to absorb a
    * 10^6-doc batch. */
  def incrLshCandidates(s: SparkSession, dir: String): DataFrame = {
    // literal split: each side's doc_id predicate pushes into its scan,
    // so the batch side computes band signatures for batch docs ONLY
    // (the r5 post-bands filter put a full-corpus minhash pass on both
    // branches)
    val t = thresholdVal(docs(s, dir))
    val corpusB = narrowBands(docs(s, dir).filter(col("doc_id") < t))
      .select(col("doc_id").as("corpus_doc"), col("b"), col("band_hash"))
    val batchB = narrowBands(docs(s, dir).filter(col("doc_id") >= t))
      .select(col("doc_id").as("batch_doc"), col("b"), col("band_hash"))
    corpusB.join(broadcast(batchB), Seq("b", "band_hash"))
      .select("batch_doc", "corpus_doc").distinct()
  }

  val incrLshCandidatesSql: String = {
    val shs = "list_transform(generate_series(1, len(toks) - 2), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
    def mh(j: Int): String =
      s"list_min(list_transform($shs, sh -> md5('$j' || ':' || sh)))"
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, CAST($b AS BIGINT) AS b, " +
        s"md5(${mh(2 * b)} || '|' || ${mh(2 * b + 1)}) AS band_hash FROM d")
      .mkString(" UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |bands AS ($bandRows),
       |t AS (SELECT max(doc_id)*4//5 AS t FROM documents)
       |SELECT DISTINCT n.doc_id AS batch_doc, c.doc_id AS corpus_doc
       |FROM bands c JOIN bands n ON c.b = n.b AND c.band_hash = n.band_hash
       |CROSS JOIN t
       |WHERE c.doc_id < t.t AND n.doc_id >= t.t""".stripMargin
  }

  /** q17: incremental Jaccard verification — the q13 verifier on q16's
    * batch-vs-corpus candidates, completing the incremental chain
    * (exact q15 → LSH candidates q16 → verified near-dup pairs q17).
    * Scale shape: the candidate set (∝ batch) is BROADCAST into the
    * corpus token scan, so corpus rows stream scan→map→broadcast-join and
    * are never shuffled; the batch-side token join shuffles ∝ batch +
    * candidates. Exact integer arithmetic as in q13 (≥0.5 ⇔ 2·|∩| ≥ |∪|). */
  def incrJaccardVerify(s: SparkSession, dir: String): DataFrame = {
    val cand = incrLshCandidates(s, dir)
      .select(col("corpus_doc").as("doc_a"), col("batch_doc").as("doc_b"))
    verifyPairs(broadcast(cand), docs(s, dir).select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks")))
      .select(col("doc_b").as("batch_doc"), col("doc_a").as("corpus_doc"),
        col("inter_cnt"), col("union_cnt"))
      .filter(col("inter_cnt") * 2 >= col("union_cnt"))
  }

  val incrJaccardVerifySql: String =
    s"""WITH cand AS (${incrLshCandidatesSql.replace("\n", "\n  ")}),
       |dd AS (SELECT doc_id,
       |    list_distinct(string_split(text, ' ')) AS toks FROM documents)
       |SELECT batch_doc, corpus_doc, inter_cnt, union_cnt FROM (
       |  SELECT c.batch_doc, c.corpus_doc,
       |    CAST(len(list_intersect(b.toks, a.toks)) AS BIGINT) AS inter_cnt,
       |    CAST(len(b.toks) + len(a.toks)
       |      - len(list_intersect(b.toks, a.toks)) AS BIGINT) AS union_cnt
       |  FROM cand c
       |  JOIN dd a ON c.corpus_doc = a.doc_id
       |  JOIN dd b ON c.batch_doc = b.doc_id)
       |WHERE inter_cnt * 2 >= union_cnt""".stripMargin

  // ------------------------------------- near-dup component clustering
  // q18: the stage that turns q13's pairwise evidence into the decision a
  // training pipeline acts on. Verified near-dup pairs are edges of a
  // graph; transitively-linked documents form ONE duplicate group (a and
  // c are duplicates when both resemble b, even if a,c never shared a
  // band), and the group keeps its minimum doc_id — the same survivor
  // rule as q10's exact dedup — dropping the rest.

  /** Connected components over an undirected pair list via iterative
    * min-label propagation to a fixpoint: label(v) starts at v; each
    * round replaces it with the min over v's own and all neighbors'
    * labels, so it converges to the component minimum in
    * eccentricity-of-the-min-node rounds. Output: one row per
    * participating doc — (doc_id, rep_id, keep), keep = 1 iff the doc is
    * its component's survivor.
    *
    * Scale shape: edges ∝ verified near-dup pairs and labels ∝
    * participating docs — both a small fraction of a 10^10-doc corpus
    * (the corpus itself is never touched). Each round is one
    * doc_id-keyed exchange for the neighbor gather plus one label-keyed
    * self-join for POINTER DOUBLING (label(v) ← label(label(v)) — path
    * compression in the hop-plus-jump style of Kiveris et al.
    * "Connected Components in MapReduce", SOCC'14), so convergence is
    * O(log diameter) rounds, not O(diameter) — web near-dup graphs mix
    * shallow template stars with long edit-chains, and a measured
    * sf0.1 run took 10+ plain-propagation rounds whose per-round job
    * overhead dominated the wall. The change count rides the round's
    * own materialization (prev carried as a column; the count is a
    * leaf scan), and every round's labels are localCheckpoint'ed so
    * plans never nest across iterations (the Lloyd-chain lesson of
    * q37). */
  private[queries] def components(pairs: DataFrame): DataFrame = {
    // ONE generator emits both directions PLUS a self-loop per endpoint
    // (duplicated self-loops are harmless under the min-aggregation):
    //  - the r5 spelling mirrored the pair list with a self-UNION, which
    //    plans its branches independently and computed the whole
    //    LSH+Jaccard pair pipeline twice into the edges persist;
    //  - self-loops make the per-round hop a plain join+groupBy — the r5
    //    loop unioned the labels table back in every round, and a Union
    //    over a lazily-checkpointed leaf trips stale origin constraints
    //    (LogicalRDD.constraints drops only subquery constraints;
    //    Union.rewriteConstraints then faults on attributes absent from
    //    the child's output — hit by DedupComponentsSpec).
    val edges = pairs
      .select(explode(expr(
        "array(named_struct('src', doc_a, 'dst', doc_b)," +
          " named_struct('src', doc_b, 'dst', doc_a)," +
          " named_struct('src', doc_a, 'dst', doc_a)," +
          " named_struct('src', doc_b, 'dst', doc_b))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // lazy localCheckpoint (plan truncated immediately, the per-round
    // aggregate below materializes it — the CrawlDriver DeltaState
    // pattern); convergence rides the MONOTONE label sum: labels only
    // ever decrease (hop takes a min including the own label; jump maps
    // a label to that node's ≤ label), so the sum is strictly decreasing
    // until the fixpoint and two equal consecutive sums ⟺ no row changed.
    // The r5 spelling joined every round's labels back to the previous
    // round's ("prev") and counted inequalities — a whole extra join per
    // round whose only product was the stop signal, plus a separate
    // eager-checkpoint materialization job.
    // decimal(38,0): at 10^10 docs a sum of 10^10 labels overflows bigint
    var prevSum: java.math.BigDecimal = null
    var done = false
    var labels: DataFrame = null
    while (!done) {
      // hop: min over own + neighbors' labels (self-loops carry "own" —
      // no per-round union, see the edges builder above). Round 1's
      // labels are the identity (label(u) = u), so its hop is a plain
      // aggregate over the edge list — no init table, no init distinct/
      // checkpoint, no round-1 join.
      val hop =
        if (labels == null)
          edges.groupBy(col("dst").as("doc_id"))
            .agg(min(col("src")).as("label"))
        else labels
          .join(edges, col("doc_id") === col("src"))
          .select(col("dst").as("doc_id"), col("label"))
          .groupBy("doc_id").agg(min(col("label")).as("label"))
      // jump: label(v) <- label(label(v)); every label value is itself a
      // participating doc_id, so the self-join is total
      val next = hop.as("a")
        .join(hop.as("b"), col("a.label") === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.label").as("label"))
        .localCheckpoint(false)
      val s = next.agg(sum(col("label").cast("decimal(38,0)")))
        .head.getDecimal(0)
      done = s == null || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = next
    }
    edges.unpersist()
    labels.select(col("doc_id"), col("label").as("rep_id"),
      when(col("label") === col("doc_id"), 1).otherwise(0)
        .cast("int").as("keep"))
  }

  /** q18: duplicate groups + survivor selection over q13's verified
    * near-dup pairs (exact → candidates → verify → CLUSTER completes the
    * text-dedup chain). */
  def neardupComponents(s: SparkSession, dir: String): DataFrame =
    components(jaccardPairs(s, dir).select("doc_a", "doc_b"))

  /** Transitive-closure oracle (components are tiny at fixture scale):
    * rep = min over everything reachable, self included via any
    * round-trip — symmetric edges make every participating node reach
    * itself. */
  val neardupComponentsSql: String =
    s"""WITH RECURSIVE jp AS (
       |  ${jaccardPairsSql.replace("\n", "\n  ")}
       |),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS t FROM jp
       |  UNION
       |  SELECT doc_b AS s, doc_a AS t FROM jp
       |),
       |reach AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s AS s, e.t AS t FROM reach r JOIN edges e ON r.t = e.s
       |)
       |SELECT s AS doc_id,
       |  LEAST(s, MIN(t)) AS rep_id,
       |  CAST(CASE WHEN LEAST(s, MIN(t)) = s THEN 1 ELSE 0 END
       |    AS INTEGER) AS keep
       |FROM reach GROUP BY s""".stripMargin

  /** 16-bit SimHash over distinct unigrams (token hash = first 16 bits of
    * md5; bit b of the simhash = sign of Σ ±1 over tokens). */
  def simhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("int"))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(15))).as("b"))
      .withColumn("c",
        when(expr("(h >> b) & 1") === 1, lit(1)).otherwise(lit(-1)))
      .groupBy("doc_id", "b")
      .agg(sum(col("c")).as("sgn"))
      .groupBy("doc_id")
      .agg(sum(when(col("sgn") > 0,
        expr("cast(shiftleft(1, b) as bigint)")).otherwise(0L))
        .as("simhash"))

  val simhashSql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN ((('0x' || substr(md5(tok), 1, 4))::INT >> b) & 1) = 1
      |        THEN 1 ELSE -1 END) AS sgn
      |  FROM (SELECT doc_id, tok, unnest(generate_series(0, 15)) AS b
      |        FROM tok)
      |  GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN sgn > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END)
      |    AS BIGINT) AS simhash
      |FROM bits GROUP BY 1""".stripMargin

  /** Shared gram-occurrence stream of the exact-substring family
    * (q44/q67/q84/q85): one (doc_id, start, gram-md5) row per 8-token
    * gram. Narrow scan→generate — the md5 hex is the ONLY gram
    * representation that ever reaches an exchange. */
  private def gramOcc(base: DataFrame): DataFrame = base
    .filter(size(col("toks")) >= 8)
    // explode the position range FIRST and hash in a top-level projection:
    // slice/concat_ws/md5 all run inside whole-stage codegen there,
    // where the r5 spelling evaluated them per gram inside a transform()
    // lambda — Catalyst HOFs are interpreted (the VecSig lesson), and the
    // gram hash is the hottest expression of the whole family
    .select(col("doc_id"), col("toks"),
      explode(expr("sequence(1, size(toks) - 7)")).as("i"))
    .select(col("doc_id"), col("i"),
      expr("md5(concat_ws(' ', slice(toks, i, 8)))").as("gh"))

  /** Duplicated-gram set: grams in ≥2 DISTINCT docs, detected as
    * min(doc_id) ≠ max(doc_id) — ONE map-side-combined aggregate (the
    * r5 spelling was distinct-on-(doc,gh) + count ≥ 2: a full gram-stream
    * exchange plus a second aggregate; min/max partials combine map-side
    * so the exchange carries one row per distinct gram per task,
    * guide §2.3 "aggregate before you shuffle"). */
  private def dupGrams(occ: DataFrame): DataFrame = occ
    .groupBy("gh")
    .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    .filter(col("mn") =!= col("mx")).select("gh")

  /** Per-doc MERGED maximal duplicated spans of the exact-substring
    * family, computed from dup-gram START positions only: coverage is
    * ∪[i, i+7] over surviving starts, so two grams chain one run iff the
    * next start is within 8 of the previous, and a run covering [s ..]
    * ends at (last start in run)+7. The r5 spelling exploded every start
    * to its 8 covered positions before the per-doc aggregate (8× the
    * exchange rows + an array_sort over the 8×-larger covered set);
    * starts alone carry the same information. `base` is (doc_id, toks);
    * output: (doc_id, ss[], es[]) with ss/es pairing positionally into
    * disjoint ascending (start, end) spans, one row per doc with at least
    * one duplicated gram. */
  private def dupSpanTable(base: DataFrame): DataFrame = {
    val occ = gramOcc(base)
    occ.join(dupGrams(occ), "gh")
      .groupBy("doc_id").agg(collect_set(col("i")).as("st0"))
      .withColumn("st", array_sort(col("st0")))
      .withColumn("ss", expr(
        "filter(transform(st, (x, j) ->" +
          " IF(j = 0 OR element_at(st, j) + 8 < x, x, null))," +
          " v -> v IS NOT NULL)"))
      .withColumn("es", expr(
        "filter(transform(st, (x, j) ->" +
          " IF(j = size(st) - 1 OR element_at(st, j + 2) - 8 > x," +
          " x + 7, null)), v -> v IS NOT NULL)"))
      .select("doc_id", "ss", "es")
  }

  /** Tokens covered by a span list — merged spans are disjoint, so the
    * distinct covered positions are the sum of the span lengths. */
  private val spanCov =
    "aggregate(zip_with(ss, es, (a, b) -> b - a + 1), 0L, (acc, x) -> acc + x)"

  /** Every document of `d` with its token count and the `stats` columns
    * computed over its merged-span row (null where the document has no
    * duplicated span) — q44 and q84. */
  private def spanStats(d: DataFrame, stats: Column*): DataFrame = {
    val spans = dupSpanTable(
      d.select(col("doc_id"), split(col("text"), " ").as("toks")))
    d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(spans.select(col("doc_id") +: stats: _*), Seq("doc_id"), "left")
  }

  /** The exact-substring scrub of q67 and q85: `base` (doc_id, toks, ...)
    * plus n_tokens, kept_tokens and the md5 of the text left once the
    * tokens inside every span [ss(k), es(k)] are removed (`ss`/`es` are
    * SQL expressions over `base`, null without spans). Kept = the gaps
    * [prev_end+1, next_start-1] BETWEEN the spans, sentinels 1 and n+1,
    * rebuilt by O(spans) positional slices, not a per-TOKEN lambda. */
  private def scrub(base: DataFrame, ss: String, es: String): DataFrame =
    base
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("kept", expr(s"CASE WHEN $ss IS NULL THEN toks ELSE" +
        " flatten(zip_with(" +
        s" concat(array(1), transform($es, x -> x + 1))," +
        s" concat($ss, array(size(toks) + 1))," +
        " (a, b) -> slice(toks, a, b - a))) END"))
      .withColumn("kept_tokens", size(col("kept")).cast("long"))
      .withColumn("scrub_md5", md5(concat_ws(" ", col("kept"))))

  /** q44: cross-document duplicated-SPAN coverage — the exact-substring
    * dedup family member (the MassiveText/"Deduplicating Training Data
    * Makes Language Models Better" shape, word-gram approximated): an
    * 8-token gram occurring in ≥2 distinct documents is a duplicated
    * span; per document, report how many token positions any such span
    * covers, in exact permille. q26 scores WITHIN-doc repetition and q27
    * checks grams against an EXTERNAL benchmark; this is the
    * corpus-internal cross-doc case that span-removal dedup acts on.
    *
    * Scale shape: grams never shuffle as text — every group/join key is
    * the fixed-width md5 hex of the gram (32 chars vs an unbounded
    * 8-gram; at 10^10 docs a production run would widen to 128-bit
    * binary, which md5 already is). The duplicated-gram set can itself be
    * corpus-scale, so its join back to occurrences is an equi-join on the
    * hash (shuffle-partitioned both sides, AQE may broadcast when small)
    * — never a cartesian. Coverage explodes each surviving occurrence to
    * its 8 positions and distinct-counts per doc: all group-bys combine
    * map-side on (doc, key) pairs bounded by document length. */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    spanStats(docs(s, dir), expr(spanCov).as("dup_cov"))
      .withColumn("dup_cov", coalesce(col("dup_cov"), lit(0L)))
      .withColumn("dup_permille", expr("(dup_cov * 1000) div n_tokens"))

  val dupSpansSql: String =
    """WITH occ AS (
      |  SELECT doc_id, i,
      |    md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |        toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |        toks[i+6] || ' ' || toks[i+7]) AS gh
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS toks,
      |      unnest(generate_series(1, len(string_split(text, ' ')) - 7)) AS i
      |    FROM documents WHERE len(string_split(text, ' ')) >= 8)),
      |dup AS (
      |  SELECT gh FROM (
      |    SELECT gh, COUNT(*) AS nd FROM (SELECT DISTINCT doc_id, gh FROM occ)
      |    GROUP BY gh) WHERE nd >= 2),
      |cov AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_cov FROM (
      |    SELECT DISTINCT o.doc_id, o.i + s.s AS p
      |    FROM occ o JOIN dup d ON o.gh = d.gh,
      |      (SELECT unnest(generate_series(0, 7)) AS s) s)
      |  GROUP BY doc_id)
      |SELECT b.doc_id,
      |  CAST(len(string_split(b.text, ' ')) AS BIGINT) AS n_tokens,
      |  COALESCE(c.dup_cov, 0) AS dup_cov,
      |  (COALESCE(c.dup_cov, 0) * 1000)
      |    // CAST(len(string_split(b.text, ' ')) AS BIGINT) AS dup_permille
      |FROM documents b LEFT JOIN cov c ON b.doc_id = c.doc_id""".stripMargin

  /** q67: exact-substring scrub — the TRANSFORMATION behind q44's stat
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", the ExactSubstr pipeline): every token covered by a
    * cross-document duplicated 8-gram is REMOVED and the cleaned text is
    * emitted (here as its md5, the q49 proof idiom — the full string would
    * bloat the correctness dump, and the hash pins every byte anyway).
    * Duplicated = the 8-gram appears in ≥2 distinct docs, exactly q44's
    * rule, so kept_tokens ≡ n_tokens − q44.dup_cov by construction.
    *
    * Scale shape: the gram stream is q44's (hash-keyed — raw gram text
    * never shuffles); covered positions collapse to ONE array row per doc
    * via a map-side-combined collect_set (the 8× position fan-out never
    * crosses an exchange raw), so the rebuild join is doc-keyed O(docs)
    * rows on both sides — token-level rows never join. The per-row token
    * filter is a positional array HOF (interpreted, but per-row and
    * outside any exchange); the within-doc order is positional in the
    * array, so no sort appears anywhere in the plan. */
  def exactScrub(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // a position is covered iff it falls inside a merged span, so the
    // scrub needs only the doc's own span list (the r5 shape probed an
    // O(covered-positions) unsorted set per token)
    scrub(base.join(dupSpanTable(base), Seq("doc_id"), "left"), "ss", "es")
      .select("doc_id", "n_tokens", "kept_tokens", "scrub_md5")
  }

  /** q84: maximal duplicated SPANS — the length-extension over q44/q67's
    * 8-gram grain (VERDICT r3 ask #5; Lee et al. 2021 dedup at ~50-byte
    * spans, not fixed grams): adjacent duplicated 8-grams merge into
    * maximal runs of covered token positions, and the query reports
    * span-accurate boundaries per doc — span count, longest span, total
    * covered (≡ q44.dup_cov by construction, so q67.kept_tokens ≡
    * n_tokens − span_cov), and an md5 over the canonical "start-end ..."
    * rendering that pins every boundary exactly.
    *
    * Scale shape: the gram/coverage stream is q44's (hash-keyed, map-side
    * combined); the run merge happens INSIDE one row per doc — array_sort
    * + indexed-lambda gap scan over that doc's covered set, O(k log k)
    * per doc with no window, no per-doc sort exchange, no token-level
    * join (the oracle spells the same merge relationally as
    * gaps-and-islands; the engine never does). */
  def dupMaxSpans(s: SparkSession, dir: String): DataFrame =
    spanStats(docs(s, dir),
        size(col("ss")).cast("long").as("n_spans"),
        expr("array_max(zip_with(ss, es, (s, e) -> e - s + 1))")
          .cast("long").as("max_span"),
        expr(spanCov).as("span_cov"),
        md5(concat_ws(" ", expr(
          "zip_with(ss, es, (s, e) ->" +
            " concat(cast(s as string), '-', cast(e as string)))")))
          .as("spans_md5"))
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        coalesce(col("span_cov"), lit(0L)).as("span_cov"),
        coalesce(col("spans_md5"), md5(lit(""))).as("spans_md5"))

  /** q85 span-length floor: only maximal duplicated spans of at least
    * this many tokens are scrubbed (Lee et al. 2021 remove ~50-byte
    * duplicated substrings, not every duplicated gram — short incidental
    * overlaps are legitimate text, long verbatim runs are boilerplate/
    * mirrors; VERDICT r4 ask #5). 50 exercises both branches on the
    * driver testdata (sf0.001: 28 of 45 merged spans are ≥50). */
  val LongSpanMin = 50

  /** q85: LONG-span exact-substring scrub — q84's maximal-run merge with
    * a minimum-span-length threshold, then the q67 transformation applied
    * to ONLY the long spans: tokens inside a merged duplicated span of ≥
    * `LongSpanMin` tokens are removed; shorter duplicated spans (q67
    * would scrub them) are kept. Per doc: long-span count, tokens covered
    * by long spans, kept token count, and the md5 of the cleaned text
    * (the q49/q67 proof idiom). Reconciliations pinned by
    * LongSpanScrubSpec: long_cov ≤ q84.span_cov, kept_tokens ≡ n_tokens −
    * long_cov, kept_tokens ≥ q67.kept_tokens, with equality exactly where
    * every span clears the floor.
    *
    * Scale shape: identical to q84 up to the merged (start, end) lists —
    * hash-keyed gram shuffle, map-side-combined coverage, per-row run
    * merge with no window. The length filter and the scrub are per-row
    * array ops on that doc's own span list (O(spans) per token via
    * exists(), never a token-level join), so the threshold adds ZERO
    * exchanges over q84. */
  def longSpanScrub(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val spans = dupSpanTable(base)
      // merged maximal spans are disjoint by construction, so the long
      // subset's coverage is a plain sum of lengths
      .withColumn("ls", expr(
        s"filter(zip_with(ss, es, (a, b) ->" +
          s" named_struct('s', a, 'e', b))," +
          s" x -> x.e - x.s + 1 >= $LongSpanMin)"))
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_long_spans"),
        expr("aggregate(ls, 0L, (acc, x) -> acc + x.e - x.s + 1)")
          .cast("long").as("long_cov"),
        col("ls"))
    scrub(base.join(spans, Seq("doc_id"), "left"),
        "transform(ls, x -> x.s)", "transform(ls, x -> x.e)")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_long_spans"), lit(0L)).as("n_long_spans"),
        coalesce(col("long_cov"), lit(0L)).as("long_cov"),
        col("kept_tokens"), col("scrub_md5"))
  }

  val longSpanScrubSql: String =
    s"""WITH occ AS (
      |  SELECT doc_id, i,
      |    md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |        toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |        toks[i+6] || ' ' || toks[i+7]) AS gh
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS toks,
      |      unnest(generate_series(1, len(string_split(text, ' ')) - 7)) AS i
      |    FROM documents WHERE len(string_split(text, ' ')) >= 8)),
      |dup AS (
      |  SELECT gh FROM (
      |    SELECT gh, COUNT(*) AS nd FROM (SELECT DISTINCT doc_id, gh FROM occ)
      |    GROUP BY gh) WHERE nd >= 2),
      |cov AS (
      |  SELECT DISTINCT o.doc_id, o.i + s.s AS p
      |  FROM occ o JOIN dup d ON o.gh = d.gh,
      |    (SELECT unnest(generate_series(0, 7)) AS s) s),
      |isl AS (
      |  SELECT doc_id, p,
      |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
      |  FROM cov),
      |spans AS (
      |  SELECT doc_id, MIN(p) AS s, MAX(p) AS e FROM isl GROUP BY doc_id, g),
      |longs AS (
      |  SELECT doc_id, s, e FROM spans WHERE e - s + 1 >= ${LongSpanMin}),
      |lagg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_long_spans,
      |    CAST(SUM(e - s + 1) AS BIGINT) AS long_cov
      |  FROM longs GROUP BY doc_id),
      |lcov AS (
      |  SELECT doc_id, unnest(generate_series(s, e)) AS p FROM longs),
      |tokpos AS (
      |  SELECT doc_id, i AS p, toks[i] AS tok
      |  FROM (
      |    SELECT doc_id, toks,
      |      unnest(generate_series(1, len(toks))) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents))),
      |kept AS (
      |  SELECT t.doc_id, t.p, t.tok
      |  FROM tokpos t LEFT JOIN lcov c ON t.doc_id = c.doc_id AND t.p = c.p
      |  WHERE c.p IS NULL),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
      |    string_agg(tok, ' ' ORDER BY p) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |  COALESCE(l.n_long_spans, 0) AS n_long_spans,
      |  COALESCE(l.long_cov, 0) AS long_cov,
      |  COALESCE(a.kept_tokens, 0) AS kept_tokens,
      |  md5(COALESCE(a.cleaned, '')) AS scrub_md5
      |FROM documents d
      |LEFT JOIN lagg l ON d.doc_id = l.doc_id
      |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  val dupMaxSpansSql: String =
    """WITH occ AS (
      |  SELECT doc_id, i,
      |    md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |        toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |        toks[i+6] || ' ' || toks[i+7]) AS gh
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS toks,
      |      unnest(generate_series(1, len(string_split(text, ' ')) - 7)) AS i
      |    FROM documents WHERE len(string_split(text, ' ')) >= 8)),
      |dup AS (
      |  SELECT gh FROM (
      |    SELECT gh, COUNT(*) AS nd FROM (SELECT DISTINCT doc_id, gh FROM occ)
      |    GROUP BY gh) WHERE nd >= 2),
      |cov AS (
      |  SELECT DISTINCT o.doc_id, o.i + s.s AS p
      |  FROM occ o JOIN dup d ON o.gh = d.gh,
      |    (SELECT unnest(generate_series(0, 7)) AS s) s),
      |isl AS (
      |  SELECT doc_id, p,
      |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
      |  FROM cov),
      |spans AS (
      |  SELECT doc_id, MIN(p) AS s, MAX(p) AS e FROM isl GROUP BY doc_id, g),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |    CAST(MAX(e - s + 1) AS BIGINT) AS max_span,
      |    CAST(SUM(e - s + 1) AS BIGINT) AS span_cov,
      |    md5(string_agg(s || '-' || e, ' ' ORDER BY s)) AS spans_md5
      |  FROM spans GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |  COALESCE(a.n_spans, 0) AS n_spans,
      |  COALESCE(a.max_span, 0) AS max_span,
      |  COALESCE(a.span_cov, 0) AS span_cov,
      |  COALESCE(a.spans_md5, md5('')) AS spans_md5
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  val exactScrubSql: String =
    """WITH occ AS (
      |  SELECT doc_id, i,
      |    md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |        toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |        toks[i+6] || ' ' || toks[i+7]) AS gh
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS toks,
      |      unnest(generate_series(1, len(string_split(text, ' ')) - 7)) AS i
      |    FROM documents WHERE len(string_split(text, ' ')) >= 8)),
      |dup AS (
      |  SELECT gh FROM (
      |    SELECT gh, COUNT(*) AS nd FROM (SELECT DISTINCT doc_id, gh FROM occ)
      |    GROUP BY gh) WHERE nd >= 2),
      |cov AS (
      |  SELECT DISTINCT o.doc_id, o.i + s.s AS p
      |  FROM occ o JOIN dup d ON o.gh = d.gh,
      |    (SELECT unnest(generate_series(0, 7)) AS s) s),
      |tokpos AS (
      |  SELECT doc_id, i AS p, toks[i] AS tok
      |  FROM (
      |    SELECT doc_id, toks,
      |      unnest(generate_series(1, len(toks))) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents))),
      |kept AS (
      |  SELECT t.doc_id, t.p, t.tok
      |  FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
      |  WHERE c.p IS NULL),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
      |    string_agg(tok, ' ' ORDER BY p) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |  COALESCE(a.kept_tokens, 0) AS kept_tokens,
      |  md5(COALESCE(a.cleaned, '')) AS scrub_md5
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
}
