package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Similarity search over the `embeddings` table (Array[Float], dim 64).
 *
 * - bruteForceTopK: exact cosine top-k — the correctness baseline. The dot
 *   product is the native codegen'd `vec_dot` expression
 *   (functions/VecSig.scala): the same sequential left-fold over doubles
 *   as the DuckDB oracle's explicit element sum, so bit-identical — but
 *   one native call per row instead of an interpreted higher-order-
 *   function chain (Catalyst HOFs don't participate in codegen; the
 *   interpreted folds were 24.8 s of q33's sf0.1 wall alone);
 *   similarities exported as round(cos·1e6) integers.
 * - cells / ivfTopK: the index-BUILD half of ANN — a random-hyperplane
 *   signature (sign of dot(embedding, h_p) for k seeded deterministic ±1
 *   hyperplanes, the embedding-space member of the SimHash family q14
 *   applies to text) COMPUTES the coarse cell from the vector itself; the
 *   search restricts each query to its own cell, turning the O(Q·N) scan
 *   into O(Q·N/cells) with the join a co-partitioned shuffle on `cell`.
 * - embedNearDup: banded hyperplane LSH (B bands × R bits, exactly q12's
 *   band→bucket-join shape): candidate pairs share ≥1 band signature, then
 *   an exact cosine filter verifies only those candidates — never an
 *   all-pairs compare, and no reliance on a pre-existing partition column.
 * - norms: per-vector L2 norm (integer-µ export).
 *
 * The hyperplanes are derived from a quadratic integer hash of
 * (plane, dimension) — pure BIGINT arithmetic expressible identically in
 * Spark SQL and DuckDB, so the oracle reproduces every signature bit
 * exactly (both engines left-fold the same doubles in index order).
 */
object AnnOps {

  private def emb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    s.read.parquet(s"$dir/embeddings.parquet")
  }

  /** Cosine similarity of the vector columns `a` and `b`, every dot
    * product the native sequential-fold `vec_dot` (≡ the SQL
    * `aggregate(zip_with(a, b, (x,y) -> double(x)·double(y)), 0D, +)`
    * fold — parity pinned by VecSigSpec). */
  private def cosine(a: String, b: String): Column =
    expr(s"vec_dot($a, $b)") /
      (sqrt(expr(s"vec_dot($a, $a)")) * sqrt(expr(s"vec_dot($b, $b)")))

  /** The exact cosine top-3 of q30/q31/q36/q38: each query vector of `q`
    * (vec_id < 5) against the corpus vectors of `c` (vec_id ≥ 5) it meets
    * on `joinKeys` (all when none), ties to the lower neighbor_id. Both
    * sides carry (vec_id, embedding, joinKeys...); output: (query_id,
    * keepCols..., neighbor_id, round(cos·1e6) as cos_e6). */
  private def top3(q: DataFrame, c: DataFrame, joinKeys: Seq[String],
                   keepCols: Seq[String]): DataFrame = {
    def side(df: DataFrame, id: String, vec: String) = df.select(
      col("vec_id").as(id) +: joinKeys.map(col) :+ col("embedding").as(vec): _*)
    val qs = side(q, "query_id", "qe").filter(col("query_id") < 5)
    val cs = side(c, "neighbor_id", "ce").filter(col("neighbor_id") >= 5)
    (if (joinKeys.isEmpty) qs.crossJoin(cs) else qs.join(cs, joinKeys))
      .withColumn("cos", cosine("qe", "ce"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rn") <= 3)
      .select((Seq("query_id") ++ keepCols :+ "neighbor_id").map(col) :+
        round(col("cos") * 1000000).cast("long").as("cos_e6"): _*)
  }

  // ------------------------------------------------ hyperplane signatures

  /** IVF coarse-quantizer width: 4 planes → 16 cells. */
  private val CellBits = 4
  /** Near-dup banding: 8 bands × 8 bits, plane indices offset by 100 so
    * the band family is independent of the cell family. */
  private val Bands = 8
  private val BandBits = 8
  private val BandBase = 100

  /** ±1 hyperplane component for plane `p`, element index `i` (1-based):
    * sign of a quadratic integer hash of x = p·64+i. Quadratic, not an
    * LCG — bit 30 of a LINEAR map correlates plane pairs at fixed offsets
    * (arithmetic progressions mod 2^31), which clumps signatures. Pure
    * BIGINT arithmetic → byte-identical in DuckDB and in the native
    * VecNative.signTable the Spark side evaluates (parity: VecSigSpec). */
  private def signCase(p: Int): String = {
    val x = s"(CAST($p*64 + i AS BIGINT))"
    s"(CAST(CASE WHEN (($x*$x*40503 + $x*69069 + 12345) % 2147483648) " +
      "< 1073741824 THEN 1 ELSE -1 END AS DOUBLE))"
  }

  private def planeDotDuck(c: String, p: Int): String =
    s"list_sum(list_transform(generate_series(1, 64), " +
      s"i -> CAST($c[i] AS DOUBLE) * ${signCase(p)}))"

  /** Integer signature of `bits` sign-bits starting at plane base+band·bits. */
  private def sig(dotFn: (String, Int) => String, c: String,
                  base: Int, band: Int, bits: Int): String =
    (0 until bits).map { r =>
      s"(CASE WHEN ${dotFn(c, base + band * bits + r)} >= 0 " +
        s"THEN ${1 << r} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Native cell signature: one band of CellBits sign-bits at plane base 0
    * (`hyper_sigs` returns one int per band; element_at is 1-based). */
  private val cellSpark = s"element_at(hyper_sigs(embedding, 0, 1, $CellBits), 1)"
  private def cellDuck(c: String): String =
    sig(planeDotDuck, c, 0, 0, CellBits)

  /** q34: the ANN index build itself — every vector's computed cell. */
  def cells(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), expr(cellSpark).as("cell"))

  val cellsSql: String =
    s"""SELECT vec_id, ${cellDuck("embedding")} AS cell FROM embeddings"""

  /** Exact brute-force cosine top-3 for query vectors vec_id < 5 against
    * all vec_id ≥ 5. */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    top3(e, e, Seq.empty, Seq.empty)
  }

  private val duckDot =
    "list_sum(list_transform(generate_series(1, 64), i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)))"

  val bruteForceTopKSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |           FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ce
       |      FROM embeddings WHERE vec_id >= 5),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${duckDot.format("qe", "ce")} /
       |      (sqrt(${duckDot.format("qe", "qe")}) *
       |       sqrt(${duckDot.format("ce", "ce")})) AS cos
       |  FROM q, c)
       |SELECT query_id, neighbor_id,
       |  CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rn
       |      FROM scored)
       |WHERE rn <= 3""".stripMargin

  /** IVF-style partitioned top-3 with a COMPUTED coarse cell (the
    * hyperplane signature above — no pre-existing partition column): each
    * query searches only its own cell, the pruned-scan ANN shape. At
    * 100 TB the cell is the shuffle/storage partition key and a query
    * touches 1/2^k of the corpus. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).withColumn("cell", expr(cellSpark))
    top3(e, e, Seq("cell"), Seq("cell"))
  }

  val ivfTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ${cellDuck("embedding")} AS cell FROM embeddings),
       |q AS (SELECT vec_id AS query_id, cell, embedding AS qe
       |      FROM e WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, cell, embedding AS ce
       |      FROM e WHERE vec_id >= 5),
       |scored AS (
       |  SELECT query_id, q.cell AS cell, neighbor_id,
       |    ${duckDot.format("qe", "ce")} /
       |      (sqrt(${duckDot.format("qe", "qe")}) *
       |       sqrt(${duckDot.format("ce", "ce")})) AS cos
       |  FROM q JOIN c ON q.cell = c.cell)
       |SELECT query_id, cell, neighbor_id,
       |  CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM (SELECT query_id, cell, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rn
       |      FROM scored)
       |WHERE rn <= 3""".stripMargin

  /** q36: IVF multiprobe top-3 — the recall dial of IVF search. A single-
    * probe IVF query misses every neighbor whose vector fell across a
    * hyperplane (q31's structural recall ceiling; AnnRecallSpec measures
    * it); multiprobe ALSO searches the CellBits cells at Hamming distance
    * 1 from the query's cell (the most-likely sign flips), trading a
    * 1+CellBits× probe cost for recall — still O((1+k)·N/2^k) per query,
    * never a corpus scan. The probe fan-out explodes only the QUERY side
    * (tiny); the corpus keeps its single computed cell as the
    * shuffle/storage partition key, so the join shape is identical to
    * q31's co-partitioned equi-join. */
  def ivfMultiprobeTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).withColumn("cell", expr(cellSpark))
    val probes = (0 until CellBits)
      .map(j => s"cell ^ ${1 << j}").mkString("array(cell, ", ", ", ")")
    val q = e.select(col("vec_id"), col("embedding"),
      explode(expr(probes)).as("cell"))
    top3(q, e, Seq("cell"), Seq.empty)
  }

  val ivfMultiprobeTopKSql: String = {
    val probes = (0 until CellBits)
      .map(j => s"xor(cell, ${1 << j})").mkString("[cell, ", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ${cellDuck("embedding")} AS cell FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe,
       |        unnest($probes) AS cell
       |      FROM e WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, cell, embedding AS ce
       |      FROM e WHERE vec_id >= 5),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${duckDot.format("qe", "ce")} /
       |      (sqrt(${duckDot.format("qe", "qe")}) *
       |       sqrt(${duckDot.format("ce", "ce")})) AS cos
       |  FROM q JOIN c ON q.cell = c.cell)
       |SELECT query_id, neighbor_id,
       |  CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM (SELECT query_id, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rn
       |      FROM scored)
       |WHERE rn <= 3""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs (the dedup family's embedding
    * member), bucketed like q12's MinHash-LSH: a pair is a candidate iff
    * it shares ≥1 of the 8 band signatures (8 hyperplane bits each), then
    * ONLY the candidates get the exact-cosine verification (≥ 0.4 — ≈3σ of
    * this noise corpus's cosine null; a real near-dup corpus uses ≥0.95,
    * where per-band collision is ~0.29 and 8-band recall ~93%). The join
    * shuffles (band, sig, vec_id) — never embeddings per band, never
    * all-pairs, and no pre-existing partition column. */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // all 8 band signatures in ONE native call per row, then posexplode
    // to the (band, sig) shape the bucket self-join keys on
    val sigs = e.select(col("vec_id"),
        posexplode(expr(s"hyper_sigs(embedding, $BandBase, $Bands, $BandBits)")))
      .toDF("vec_id", "band", "sig")
    val cand = sigs.as("a")
      .join(sigs.as("b"), Seq("band", "sig"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("vec_b"))
      .withColumn("cos", cosine("ea", "eb"))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"),
        round(col("cos") * 1000000).cast("long").as("cos_e6"))
  }

  val embedNearDupSql: String = {
    val bands = (0 until Bands).map(b =>
      s"SELECT vec_id, $b AS band, " +
        s"${sig(planeDotDuck, "embedding", BandBase, b, BandBits)} AS sig " +
        "FROM embeddings").mkString(" UNION ALL ")
    s"""WITH sg AS ($bands),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sg a JOIN sg b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |p AS (SELECT vec_a, vec_b,
       |    ${duckDot.format("x.embedding", "y.embedding")} /
       |      (sqrt(${duckDot.format("x.embedding", "x.embedding")}) *
       |       sqrt(${duckDot.format("y.embedding", "y.embedding")})) AS cos
       |  FROM cand JOIN e x ON x.vec_id = vec_a
       |            JOIN e y ON y.vec_id = vec_b)
       |SELECT vec_a, vec_b, CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM p WHERE cos >= 0.4""".stripMargin
  }

  /** q35: incremental embedding near-dup candidates — the embedding-side
    * member of the incremental family (q15/q16 are the text side): a NEW
    * batch of vectors (vec_id ≥ ⌊4·max/5⌋ — in production the snapshot
    * boundary, with corpus signatures precomputed and stored) against the
    * accumulated corpus by shared hyperplane band signature. Same scale
    * shape as q16: batch band signatures BROADCAST, corpus rows stream
    * scan→sig→broadcast-join with ZERO corpus shuffle; the only hash
    * exchange carries candidate pairs (∝ batch). A 10^10-vector corpus is
    * never repartitioned to absorb a 10^6-vector batch. */
  def incrEmbedCandidates(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // literal split: the vec_id predicate pushes into each side's scan,
    // so the batch side computes hyperplane signatures for batch
    // vectors only
    val t = graft.queries.DedupOps.thresholdVal(e, "vec_id")
    def sigs(side: DataFrame) = side.select(col("vec_id"),
        posexplode(expr(s"hyper_sigs(embedding, $BandBase, $Bands, $BandBits)")))
      .toDF("vec_id", "band", "sig")
    val corpus = sigs(e.filter(col("vec_id") < t))
      .select(col("vec_id").as("corpus_vec"), col("band"), col("sig"))
    val batch = sigs(e.filter(col("vec_id") >= t))
      .select(col("vec_id").as("batch_vec"), col("band"), col("sig"))
    corpus.join(broadcast(batch), Seq("band", "sig"))
      .select("batch_vec", "corpus_vec").distinct()
  }

  val incrEmbedCandidatesSql: String = {
    val bands = (0 until Bands).map(b =>
      s"SELECT vec_id, $b AS band, " +
        s"${sig(planeDotDuck, "embedding", BandBase, b, BandBits)} AS sig " +
        "FROM embeddings").mkString(" UNION ALL ")
    s"""WITH sg AS ($bands),
       |t AS (SELECT max(vec_id)*4//5 AS t FROM embeddings)
       |SELECT DISTINCT n.vec_id AS batch_vec, c.vec_id AS corpus_vec
       |FROM sg c JOIN sg n ON c.band = n.band AND c.sig = n.sig
       |CROSS JOIN t
       |WHERE c.vec_id < t.t AND n.vec_id >= t.t""".stripMargin
  }

  // ---------------------------------------------------- k-means IVF build
  // q37: the OTHER coarse quantizer — a seeded, deterministic Lloyd's
  // k-means over the embeddings (the index build real IVF systems run,
  // complementing the hyperplane cells of q31/q34 which need no training
  // pass). All arithmetic is exact-integer so the DuckDB oracle matches
  // bit-for-bit: vectors are quantized to µ-units with floor (round()'s
  // half-up/half-even tie rules differ between engines; floor of an exact
  // float→double product is unambiguous), distances are exact bigint
  // squared-L2 sums (order-independent), and centroid means use the
  // positive-mod floor division spelled identically in both engines.
  //
  // Scale shape per Lloyd iteration: centroids are O(K·dims) — broadcast
  // to every executor (never a corpus shuffle); the argmin reduces the
  // K-way fan-out map-side (partial min(struct) before the vec_id
  // exchange); the centroid update is ONE groupBy(cell) carrying 64
  // fixed-width partial sums + a count. A 10^10-vector corpus pays K
  // passes of narrow per-row math plus two small shuffles per iteration —
  // the same plan MLlib's KMeans lowers to, expressed declaratively. (At
  // production scale each iteration's assignment would be persisted;
  // at oracle scale the re-derivation keeps the query a pure DAG.)

  /** Centroid count (8 — the fixture corpus has 10 latent clusters, so
    * convergence is visible but not trivially saturated) and Lloyd
    * iteration count. */
  private[queries] val KmK = 8
  private[queries] val KmIters = 2
  private val Dims = 64

  /** Native codegen'd spelling (functions/VecSig.scala); parity with the
    * `transform(embedding, x -> cast(floor(cast(x as double) * 1000000D)
    * as bigint))` HOF spelling pinned by VecSigSpec. */
  private[queries] val quantSpark = "vec_quant(embedding)"
  private val quantDuck =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  /** Assign every vector to its nearest centroid (exact squared-L2 in
    * µ²-units; ties break to the lowest cell id in both engines). The
    * (dist, cell) argmin is packed into ONE bigint (dist·256 + cell —
    * lexicographic order preserved since 0 ≤ cell < 256 and dist ≥ 0, and
    * dist < 2^48 µ² keeps the product far from overflow), and the min
    * over the K centroids folds INSIDE the row: the centroids are
    * driver-held exact integers (the MLlib pattern — they are collected
    * per iteration anyway), so they inline as K array literals under one
    * codegen'd least(). The r5 spelling crossJoined a broadcast centroid
    * TABLE and re-grouped by (vec_id, qv) to take the min — a K-way row
    * fan-out plus a full-corpus exchange per Lloyd iteration that the
    * per-row fold simply does not have (guide §2.4: remove shuffles
    * outright). */
  private def kmPacked(cents: Seq[(Int, Seq[Long])]): org.apache.spark.sql.Column = {
    val terms = cents.sortBy(_._1).map { case (cell, cv) =>
      call_function("sq_l2", col("qv"),
        typedLit(cv)) * lit(256L) + lit(cell.toLong)
    }
    terms.size match {
      case 0 => lit(null).cast("bigint") // empty embeddings: no rows exist
      case 1 => terms.head
      case _ => least(terms: _*)
    }
  }

  private[queries] def kmAssign(e: DataFrame,
                                cents: Seq[(Int, Seq[Long])]): DataFrame =
    e.withColumn("packed", kmPacked(cents))
      .select(col("vec_id"), col("qv"),
        expr("cast(packed % 256 as int)").as("cell"),
        expr("packed div 256").as("dist"))

  /** (vec_id, embedding, trained cell) in one narrow projection — the
    * stored-assignment stand-in q38/q64 consume; the r5 spelling joined
    * the float embeddings back to kmeansCells by vec_id (a corpus-sized
    * equi-join the inline assignment removes entirely). */
  private def embWithCell(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), expr(quantSpark).as("qv"))
    val cents = trainKmeans(e)
    emb(s, dir).withColumn("qv", expr(quantSpark))
      .withColumn("packed", kmPacked(cents))
      .select(col("vec_id"), col("embedding"),
        expr("cast(packed % 256 as int)").as("cell"))
  }

  /** The KmIters-iteration Lloyd loop: seed = vectors 0..K-1, each
    * iteration one inline assignment + one 64-column partial-sum
    * groupBy(cell), centroids collected to the driver (K·dims longs). */
  private[queries] def trainKmeans(e: DataFrame): Seq[(Int, Seq[Long])] = {
    import e.sparkSession.implicits._
    def collectCents(df: DataFrame): Seq[(Int, Seq[Long])] =
      df.as[(Int, Array[Long])].collect().toSeq
        .map { case (c, v) => (c, v.toSeq) }
    var cents = collectCents(e.filter(col("vec_id") < KmK)
      .select(col("vec_id").cast("int").as("cell"), col("qv").as("cv")))
    for (_ <- 1 to KmIters)
      cents = collectCents(kmUpdate(kmAssign(e, cents)))
    cents
  }

  /** Recompute centroids as the per-cell floor-mean of each dimension —
    * one groupBy(cell) with 64 partial sums + a count; cells that lost
    * every member drop out (identically in the oracle). */
  private[queries] def kmUpdate(assigned: DataFrame): DataFrame = {
    val sums = (1 to Dims).map(i =>
      sum(expr(s"element_at(qv, $i)")).as(s"s$i"))
    val agged = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n"), sums: _*)
    val means = (1 to Dims).map(i =>
      expr(s"(s$i - ((s$i % n + n) % n)) div n"))
    agged.select(col("cell"), array(means: _*).as("cv"))
  }

  /** q37: cell assignment (+ exact squared distance) after `KmIters`
    * Lloyd iterations from the deterministic seed (vectors 0..K-1).
    * Each iteration's centroids — O(K·dims) longs, bounded tiny — are
    * materialized to the driver (the MLlib KMeans pattern): left lazy,
    * iteration i's plan recomputes every earlier iteration on each of its
    * K-way probes, and the final assignment pays the whole chain again.
    * The collected values are exact integers, so the materialization is
    * invisible to the oracle. */
  def kmeansCells(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), expr(quantSpark).as("qv"))
    kmAssign(e, trainKmeans(e)).select(col("vec_id"), col("cell"),
      col("dist"))
  }

  /** The CTE chain replaying `KmIters` Lloyd iterations; `a3` holds the
    * final (vec_id, qv, cell, dist) assignment. */
  private val kmeansCte: String = {
    def assign(eT: String, cT: String, out: String) =
      s"""${out}d AS (
         |  SELECT e.vec_id, e.qv, c.cell,
         |    CAST(list_sum(list_transform(generate_series(1, $Dims),
         |      i -> (e.qv[i] - c.cv[i]) * (e.qv[i] - c.cv[i])))
         |      AS BIGINT) AS dist
         |  FROM $eT e CROSS JOIN $cT c),
         |$out AS (
         |  SELECT vec_id, qv, cell, dist FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cell) AS rn FROM ${out}d)
         |  WHERE rn = 1)"""
    def update(aT: String, out: String) = {
      val sums = (1 to Dims).map(i =>
        s"CAST(SUM(qv[$i]) AS BIGINT) AS s$i").mkString(", ")
      val means = (1 to Dims).map(i =>
        s"(s$i - ((s$i % n + n) % n)) // n").mkString(", ")
      s"""${out}s AS (
         |  SELECT cell, COUNT(*) AS n, $sums FROM $aT GROUP BY cell),
         |$out AS (SELECT cell, [$means] AS cv FROM ${out}s)"""
    }
    s"""eq AS (SELECT vec_id, $quantDuck AS qv FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, qv AS cv
       |       FROM eq WHERE vec_id < $KmK),
       |${assign("eq", "c0", "a1")},
       |${update("a1", "c1")},
       |${assign("eq", "c1", "a2")},
       |${update("a2", "c2")},
       |${assign("eq", "c2", "a3")}""".stripMargin
  }

  val kmeansCellsSql: String =
    s"""WITH $kmeansCte
       |SELECT vec_id, cell, dist FROM a3""".stripMargin

  /** q38: IVF top-3 search over the TRAINED quantizer — q31's search shape
    * (each query probes only its own cell, co-partitioned equi-join on
    * `cell`) with q37's k-means cells instead of hyperplane signatures.
    * In production the build (q37) runs once and the assignment is stored
    * WITH the vector as the partition key; here the join back to the float
    * embeddings by vec_id stands in for that stored column. Trained cells
    * track the corpus's actual density (AnnRecallSpec: recall ≥ the
    * untrained hyperplane cells' on the clustered fixture). */
  def kmeansTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embWithCell(s, dir)
    top3(e, e, Seq("cell"), Seq("cell"))
  }

  val kmeansTopKSql: String =
    s"""WITH $kmeansCte,
       |e2 AS (SELECT em.vec_id, em.embedding, a3.cell
       |       FROM embeddings em JOIN a3 ON em.vec_id = a3.vec_id),
       |q AS (SELECT vec_id AS query_id, cell, embedding AS qe
       |      FROM e2 WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, cell, embedding AS ce
       |      FROM e2 WHERE vec_id >= 5),
       |scored AS (
       |  SELECT query_id, q.cell AS cell, neighbor_id,
       |    ${duckDot.format("qe", "ce")} /
       |      (sqrt(${duckDot.format("qe", "qe")}) *
       |       sqrt(${duckDot.format("ce", "ce")})) AS cos
       |  FROM q JOIN c ON q.cell = c.cell)
       |SELECT query_id, cell, neighbor_id,
       |  CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM (SELECT query_id, cell, neighbor_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rn
       |      FROM scored)
       |WHERE rn <= 3""".stripMargin

  /** q64: semantic dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with the trained coarse
    * quantizer (q37's k-means cells), then WITHIN each cell drop every
    * vector whose cosine to a lower-id cell-mate clears the threshold
    * (τ = 0.4 ≈ 3σ of this noise corpus's cosine null — a real near-dup
    * corpus uses ~0.95+); the lowest id of each similar group survives.
    * This completes the embedding dedup family: q33 finds PAIRS by LSH
    * band, q64 makes the keep/drop DECISION per vector, cluster-scoped
    * exactly like the published pipeline.
    *
    * Scale shape: the candidate join is the within-cell equi-join on the
    * trained cell — O(n²/C) per cell, the published SemDeDup cost, with C
    * tracking corpus density (k-means, not a fixed hash); no
    * CartesianProduct, no all-pairs across cells; the dup-id set is
    * DISTINCT + broadcast back for the anti-membership flag. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = embWithCell(s, dir)
      .select(col("vec_id"), col("cell"), col("embedding"))
    val a = e.select(col("cell"), col("vec_id").as("va"),
      col("embedding").as("ea"))
    val b = e.select(col("cell"), col("vec_id").as("vb"),
      col("embedding").as("eb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", cosine("ea", "eb"))
      .filter(col("cos") >= 0.4)
      .select(col("vb").as("vec_id")).distinct()
    e.select(col("vec_id"), col("cell"))
      .join(broadcast(dups.withColumn("dup", lit(1L))), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup").isNull, 1L).otherwise(0L).as("kept"))
  }

  val semanticDedupSql: String =
    s"""WITH $kmeansCte,
       |e2 AS (SELECT em.vec_id, a3.cell, em.embedding
       |       FROM embeddings em JOIN a3 ON em.vec_id = a3.vec_id),
       |dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM e2 a JOIN e2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${duckDot.format("a.embedding", "b.embedding")} /
       |      (sqrt(${duckDot.format("a.embedding", "a.embedding")}) *
       |       sqrt(${duckDot.format("b.embedding", "b.embedding")}))
       |    >= 0.4)
       |SELECT e2.vec_id, e2.cell,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS kept
       |FROM e2 LEFT JOIN dups d ON e2.vec_id = d.vec_id""".stripMargin

  // ------------------------------------------------ product quantization

  /** PQ geometry: 64 dims split into `PqM` subspaces of `PqSub` dims, each
    * quantized against a `PqK`-entry per-subspace codebook trained with
    * `PqIters` Lloyd iteration(s) from the deterministic seed (the first
    * PqK vectors' subvectors). A stored vector compresses to PqM small
    * codes — the memory path that lets a 10^10-vector index live in RAM
    * next to the IVF cells (q37/q38), while search scores candidates from
    * a per-query lookup table without ever touching the float vectors.
    * All arithmetic is the exact-integer µ-unit recipe of q37 (floor-µ
    * quantization, bigint squared-L2, packed argmin, positive-mod floor
    * means), so DuckDB replays every code and distance bit-identically. */
  private[queries] val PqM = 4
  private[queries] val PqSub = 16
  private[queries] val PqK = 8
  private[queries] val PqIters = 1
  /** ADC shortlist width before the exact re-rank (q41): codes at this
    * resolution collapse within-cluster ordering (every member of the
    * query's cluster shares one code tuple → adist ties), so the search is
    * the published two-stage shape — ADC over codes for a shortlist, exact
    * distance on the shortlist's full vectors only. */
  private[queries] val PqShortlist = 16

  /** Explode each µ-quantized vector into (vec_id, m, sv) subvector rows —
    * a narrow per-row transform (no shuffle); at scale the subspace id
    * rides the same partitioning as the vector. */
  private def pqSubvectors(e: DataFrame): DataFrame = {
    val arms = (0 until PqM).map(m =>
      s"struct($m as m, slice(qv, ${m * PqSub + 1}, $PqSub) as sv)")
      .mkString(",")
    e.select(col("vec_id"), explode(expr(s"array($arms)")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
  }

  /** Nearest codebook entry per (vector, subspace): broadcast the PqM·PqK
    * centroid rows, exact bigint sq-L2 via the native expression, argmin
    * packed as dist·256+code (ties → lowest code; stays a codegen'd
    * HashAggregate — q37's lesson). `sv` rides as a functionally-dependent
    * grouping key. */
  private def pqAssign(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents), Seq("m"))
      .withColumn("packed", expr("sq_l2(sv, cv) * 256 + code"))
      .groupBy("vec_id", "m", "sv")
      .agg(min(col("packed")).as("p"))
      .select(col("vec_id"), col("m"), col("sv"),
        expr("cast(p % 256 as int)").as("code"),
        expr("p div 256").as("dist"))

  /** Per-(subspace, code) floor-mean centroid update — one groupBy with
    * PqSub partial sums; emptied codes drop out (identically in DuckDB). */
  private def pqUpdate(assigned: DataFrame): DataFrame = {
    val sums = (1 to PqSub).map(i =>
      sum(expr(s"element_at(sv, $i)")).as(s"s$i"))
    val agged = assigned.groupBy("m", "code")
      .agg(count(lit(1)).as("n"), sums: _*)
    val means = (1 to PqSub).map(i =>
      expr(s"(s$i - ((s$i % n + n) % n)) div n"))
    agged.select(col("m"), col("code"), array(means: _*).as("cv"))
  }

  /** Train the codebook: seed from vectors 0..PqK-1, then `PqIters` Lloyd
    * rounds with each round's O(PqM·PqK·PqSub) centroid longs collected to
    * the driver (the q37/MLlib pattern — lazy chains recompute every prior
    * iteration per probe). */
  private def pqCodebook(s: SparkSession, sub: DataFrame): DataFrame = {
    import s.implicits._
    var cents = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv"))
    for (_ <- 1 to PqIters)
      cents = pqUpdate(pqAssign(sub, cents))
        .as[(Int, Int, Array[Long])].collect().toSeq.toDF("m", "code", "cv")
    cents
  }

  /** q39: the PQ ENCODE — every vector's per-subspace code (+ exact
    * residual distance to its codebook entry). At 10^10 vectors this is
    * the index-build job whose output (PqM bytes/vector) replaces the
    * float vectors in the search tier. */
  def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), expr(quantSpark).as("qv"))
    val sub = pqSubvectors(e)
    pqAssign(sub, pqCodebook(s, sub))
      .select(col("vec_id"), col("m"), col("code"), col("dist"))
  }

  /** q41: PQ SEARCH — ADC shortlist + exact re-rank (the published
    * IVFADC-with-re-ranking two-stage). Stage 1: each query (vec_id < 5)
    * precomputes a PqM×PqK lookup table of exact subvector distances to
    * the codebook (tiny — broadcast); candidates (vec_id ≥ 5) are scored
    * by joining their CODES to the table and summing the PqM looked-up
    * distances — the corpus's full vectors are never read in this scan,
    * which is the point of PQ at 10^10 vectors. Stage 2: only the
    * PqShortlist best per query fetch their full µ-vectors (a broadcast
    * of |Q|·PqShortlist ids into the corpus scan) for the exact bigint
    * squared-L2 top-3. */
  def pqAdcTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), expr(quantSpark).as("qv"))
    val sub = pqSubvectors(e)
    val cents = pqCodebook(s, sub)
    val codes = pqAssign(sub, cents)
      .filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("m"), col("code"))
    val lut = pqSubvectors(e.filter(col("vec_id") < 5))
      .select(col("vec_id").as("query_id"), col("m"), col("sv"))
      .join(cents, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        expr("sq_l2(sv, cv)").as("d"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
    val short = codes.join(broadcast(lut), Seq("m", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d")).as("adist"))
      .withColumn("rn", row_number().over(
        win.orderBy(col("adist").asc, col("neighbor_id").asc)))
      .filter(col("rn") <= PqShortlist)
      .select(col("query_id"), col("neighbor_id"))
    short
      .join(e.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"))),
        Seq("query_id"))
      .withColumn("dist", expr("sq_l2(qqv, qv)"))
      .withColumn("rn", row_number().over(
        win.orderBy(col("dist").asc, col("neighbor_id").asc)))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("dist"))
  }

  /** Shared PQ CTE chain: subvectors → seed codebook → PqIters Lloyd
    * round(s) → final assignment `pqa` and trained codebook `pqcF`. */
  private val pqCte: String = {
    def sqL2(a: String, b: String) =
      s"""CAST(list_sum(list_transform(generate_series(1, $PqSub),
         |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"""
    def assign(cT: String, out: String) =
      s"""${out}d AS (
         |  SELECT s.vec_id, s.m, s.sv, c.code,
         |    ${sqL2("s.sv", "c.cv")} AS dist
         |  FROM pqsub s JOIN $cT c ON s.m = c.m),
         |$out AS (
         |  SELECT vec_id, m, sv, code, dist FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |      ORDER BY dist, code) AS rn FROM ${out}d)
         |  WHERE rn = 1)"""
    def update(aT: String, out: String) = {
      val sums = (1 to PqSub).map(i =>
        s"CAST(SUM(sv[$i]) AS BIGINT) AS s$i").mkString(", ")
      val means = (1 to PqSub).map(i =>
        s"(s$i - ((s$i % n + n) % n)) // n").mkString(", ")
      s"""${out}s AS (
         |  SELECT m, code, COUNT(*) AS n, $sums FROM $aT GROUP BY m, code),
         |$out AS (SELECT m, code, [$means] AS cv FROM ${out}s)"""
    }
    s"""eq AS (SELECT vec_id, $quantDuck AS qv FROM embeddings),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |pqsub AS (
       |  SELECT vec_id, m,
       |    list_transform(generate_series(1, $PqSub),
       |      i -> qv[m * $PqSub + i]) AS sv
       |  FROM eq, ms),
       |pqc0 AS (SELECT m, CAST(vec_id AS INTEGER) AS code, sv AS cv
       |         FROM pqsub WHERE vec_id < $PqK),
       |${assign("pqc0", "pqa1")},
       |${update("pqa1", "pqcF")},
       |${assign("pqcF", "pqa")}""".stripMargin
  }

  val pqCodesSql: String =
    s"""WITH $pqCte
       |SELECT vec_id, m, code, dist FROM pqa""".stripMargin

  val pqAdcTopKSql: String =
    s"""WITH $pqCte,
       |codes AS (SELECT vec_id AS neighbor_id, m, code FROM pqa
       |          WHERE vec_id >= 5),
       |lut AS (
       |  SELECT s.vec_id AS query_id, c.m, c.code,
       |    CAST(list_sum(list_transform(generate_series(1, $PqSub),
       |      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS BIGINT)
       |      AS d
       |  FROM pqsub s JOIN pqcF c ON s.m = c.m WHERE s.vec_id < 5),
       |scored AS (
       |  SELECT query_id, neighbor_id, CAST(SUM(d) AS BIGINT) AS adist
       |  FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
       |  GROUP BY query_id, neighbor_id),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS rn FROM scored)
       |  WHERE rn <= $PqShortlist),
       |rerank AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    CAST(list_sum(list_transform(generate_series(1, ${PqM * PqSub}),
       |      i -> (qe.qv[i] - ne.qv[i]) * (qe.qv[i] - ne.qv[i])))
       |      AS BIGINT) AS dist
       |  FROM short s
       |  JOIN eq qe ON qe.vec_id = s.query_id
       |  JOIN eq ne ON ne.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, dist FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY dist, neighbor_id) AS rn FROM rerank)
       |WHERE rn <= 3""".stripMargin

  /** Per-vector L2 norm in integer micro-units. */
  def norms(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("vec_id"), col("label"),
        round(sqrt(expr("vec_dot(embedding, embedding)")) * 1000000)
          .cast("long").as("norm_e6"))

  val normsSql: String =
    s"""SELECT vec_id, label,
       |  CAST(ROUND(sqrt(${duckDot.format("embedding", "embedding")})
       |    * 1000000) AS BIGINT) AS norm_e6
       |FROM embeddings""".stripMargin

  // -------------------------------------------------- random projection

  /** Plane family 200..207 — independent of the cell (0..3) and band
    * (100..163) families. */
  private val ProjBase = 200
  private val ProjDims = 8

  /** q71: deterministic random projection (Johnson–Lindenstrauss, ±1
    * matrix) of the 64-dim embeddings onto 8 components — the
    * dimensionality-reduction step in front of a downstream ANN index or
    * clustering pass (RP-LSH / JL sketching), in q37's exact-integer
    * µ-domain: p_j = Σ_i floor(e_i·1e6) · sign(200+j, i), with the same
    * quadratic-hash signs as the hyperplane families (a LINEAR hash
    * correlates plane pairs — see signCase). Integer sums are
    * order-independent, so both engines agree with no fold-order care.
    * Beside the projected vector, the op emits the audit the correctness
    * gate itself checks: the JL energy ratio (Σ_j p_j² / 8) / Σ_i q_i² in
    * ppm — E[p_j²] = Σq_i² for ±1 signs, so the ratio concentrates near
    * 10^6 and a broken sign table shows up as a wild ratio.
    *
    * Scale shape: ONE native codegen'd `proj_quant` call per row, pure
    * scan→project — zero exchanges (pinned in PlanSpec). At 100 TB this
    * is the map stage in front of whatever consumes the sketches. */
  def randProj(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
      .select(col("vec_id"),
        expr(s"proj_quant(embedding, $ProjBase, $ProjDims)").as("p"),
        expr("vec_quant(embedding)").as("qv"))
      .withColumn("sq_q",
        expr("sq_l2(qv, array_repeat(cast(0 as bigint), 64))"))
      .withColumn("sq_p",
        expr(s"sq_l2(p, array_repeat(cast(0 as bigint), $ProjDims))"))
    base.select(col("vec_id") +:
      (0 until ProjDims).map(j => element_at(col("p"), j + 1).as(s"p$j")) :+
      expr("((sq_p div 8) * 1000) div greatest(sq_q div 1000, 1)")
        .as("energy_ppm"): _*)
  }

  /** q75: per-dimension corpus statistics over the embedding column — the
    * mean/variance table a whitening or PCA pass is built from (and the
    * sanity profile every embedding ingest job should emit), in the
    * exact-integer µ-domain: mean_mu = Σq div n (both engines truncate
    * toward zero — measured), var_mu2 = Σ(q − mean)² div n, the classic
    * exact two-pass variance (a one-pass n·Σq² − (Σq)² spelling overflows
    * bigint at corpus scale; the two-pass per-row square caps at (2·10⁶)²,
    * but Σ(q−mean)² itself passes int64 at n ≈ 2.3·10⁶ vectors per
    * dimension — where Spark's non-ANSI bigint sum would wrap silently
    * while DuckDB's HUGEINT sum survives — so the Σ runs in decimal(38,0),
    * good to n ≈ 10²⁵, matching DuckDB's HUGEINT accumulator; only the
    * final per-dim quotient returns to bigint).
    *
    * Scale shape: the first pass shuffles only 64 dimension keys (partial
    * aggregates combine map-side); the 64-row stat table broadcasts back
    * into the second pass. Two corpus scans — the honest cost of an exact
    * variance. */
  def dimStats(s: SparkSession, dir: String): DataFrame = {
    val q = emb(s, dir)
      .select(posexplode(expr("vec_quant(embedding)")))
      .toDF("dim", "q")
      .withColumn("dim", col("dim").cast("long"))
    val m = q.groupBy("dim")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("q")).cast("long").as("s"))
      .withColumn("mean_mu", expr("s div n_vecs"))
      .drop("s")
    q.join(broadcast(m), Seq("dim"))
      .groupBy("dim")
      .agg(max(col("n_vecs")).as("n_vecs"),
        max(col("mean_mu")).as("mean_mu"),
        sum(expr("cast((q - mean_mu) * (q - mean_mu) as decimal(38,0))"))
          .as("ss"))
      .select(col("dim"), col("n_vecs"), col("mean_mu"),
        expr("cast(ss div n_vecs as bigint)").as("var_mu2"))
  }

  val dimStatsSql: String =
    """WITH qv AS (
      |  SELECT i - 1 AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |      AS q
      |  FROM (SELECT embedding, unnest(generate_series(1, 64)) AS i
      |        FROM embeddings)),
      |m AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |        CAST(SUM(q) AS BIGINT) AS s
      |      FROM qv GROUP BY dim),
      |mm AS (SELECT dim, n_vecs, s // n_vecs AS mean_mu FROM m)
      |SELECT q.dim, MAX(m.n_vecs) AS n_vecs, MAX(m.mean_mu) AS mean_mu,
      |  CAST(SUM((q.q - m.mean_mu) * (q.q - m.mean_mu)) AS BIGINT)
      |    // MAX(m.n_vecs) AS var_mu2
      |FROM qv q JOIN mm m ON q.dim = m.dim
      |GROUP BY q.dim""".stripMargin

  val randProjSql: String = {
    def signBig(j: Int): String = {
      val x = s"(CAST(${ProjBase + j}*64 + i AS BIGINT))"
      s"(CASE WHEN (($x*$x*40503 + $x*69069 + 12345) % 2147483648) " +
        "< 1073741824 THEN 1 ELSE -1 END)"
    }
    val pCols = (0 until ProjDims).map { j =>
      s"CAST(list_sum(list_transform(generate_series(1, 64), " +
        s"i -> qv[i] * ${signBig(j)})) AS BIGINT) AS p$j"
    }.mkString(",\n    ")
    val sqP = (0 until ProjDims).map(j => s"p$j*p$j").mkString(" + ")
    s"""WITH eq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |p AS (
       |  SELECT vec_id,
       |    $pCols,
       |    CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS sq_q
       |  FROM eq)
       |SELECT vec_id, ${(0 until ProjDims).map(j => s"p$j").mkString(", ")},
       |  ((($sqP) // 8) * 1000) // greatest(sq_q // 1000, 1) AS energy_ppm
       |FROM p""".stripMargin
  }
}
