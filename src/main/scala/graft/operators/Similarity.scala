package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Similarity search over the `embeddings` table (vec_id, embedding:
 * array<float>[64], label).
 *
 * Brute-force cosine top-k is the correctness baseline; the scale path
 * is random-hyperplane LSH (deterministic md5-seeded ±1 planes) in the
 * standard multi-table banded form: [[AnnTables]] independent tables of
 * [[AnnPlanes]] planes each. Candidates = union over tables of
 * same-bucket matches — recall grows with tables, per-bucket population
 * shrinks 2^-planes, so the same-bucket join is O(T · N²/2^P) instead of
 * round 1's O(N²/16). All arithmetic is float→double cast then
 * left-to-right summation, identically phrased in Spark and the DuckDB
 * oracle, so scores agree bit-for-bit before the 6dp rounding.
 *
 * Scale notes: brute-force is a broadcast of one query row against an
 * arbitrarily partitioned scan (no shuffle); top-k is
 * TakeOrderedAndProject (per-partition heap + driver merge of k rows).
 * LSH bucketing is map-side; at production N, planes (P) scales as
 * ~log2(N / target-bucket-size) and tables (T) buys back recall — both
 * are parameters here, with the committed defaults sized so the sf0.01
 * oracle stays non-trivially populated.
 */
object Similarity {

  val Dim = 64
  val Planes = 8

  /** Deterministic ±1 hyperplanes: sign of the first md5 hex nibble of
    * "<seed>p:d". Same literals are embedded in the SQL oracle. */
  private def planesFor(seed: String, n: Int): IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map { p =>
      (0 until Dim).map { d =>
        val h = md.digest(s"$seed$p:$d".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1 else -1
      }
    }
  }

  lazy val planes: IndexedSeq[IndexedSeq[Int]] = planesFor("", Planes)

  /** dot(a, b) with float→double casts, summed left-to-right — the
    * oracle-side rendering; Spark runs [[graft.functions.Cosine]] /
    * [[graft.functions.LshBucket]] with the same arithmetic. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, $Dim), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Cosine between adjacent vec_ids — dense probe of the kernel. The
    * Spark side scores with the fused codegen'd [[graft.functions.Cosine]]
    * (bit-identical arithmetic); the oracle keeps the composed HOF form. */
  def cosineAdjacent(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    val e = Inputs.embeddings(spark, dir)
    e.selectExpr("vec_id AS a_id", "embedding AS ea")
      .join(e.selectExpr("vec_id - 1 AS a_id", "vec_id AS b_id", "embedding AS eb"), "a_id")
      .select(col("a_id"), col("b_id"),
        round(graft.functions.Cosine(col("ea"), col("eb")), 6).as("cosine"))
  }

  val cosineAdjacentOracle: String =
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cosine
       |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin

  /** Brute-force cosine top-k for query vec 0 (broadcast single row; the
    * scan side never shuffles; TakeOrderedAndProject merges k per
    * partition). Round-then-order so engines agree on boundary ties. */
  def annTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Inputs.embeddings(spark, dir)
    val q = e.filter("vec_id = 0").selectExpr("embedding AS q")
    import org.apache.spark.sql.functions.{asc, broadcast, col, desc, round}
    e.filter("vec_id <> 0")
      .join(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.Cosine(col("embedding"), col("q")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Query-BATCH ANN: top-k per query for a broadcast query table (vec
    * ids < nQueries stand in for an arriving query batch) — the
    * production shape where queries amortize one corpus scan. The corpus
    * side never shuffles into the scoring join (broadcast); per-query
    * ranking is the fixed-k [[graft.functions.TopKLongs]] aggregate, so
    * each map partition reduces to k packed longs per query BEFORE the
    * shuffle — |queries|·k·partitions values cross the wire, not the
    * |corpus|·|queries| scored rows a row_number window would sort.
    *
    * Packing (order == (cosine DESC, vec_id ASC), decode exact): the
    * 6dp-rounded cosine scales to an integer in [-1e6, 1e6] (21 bits
    * after the +1e6 offset), vec_id complements into the low 40 bits.
    * cos6/1e6 reconstructs the rounded double BIT-EXACTLY: cos6 ≤ 2^53
    * and both the rounding and the division are correctly-rounded
    * decimal→double operations, so the decoded value equals round(c, 6)
    * in both engines (the oracle keeps the row_number form). */
  def annTopKBatch(spark: SparkSession, dir: String,
                   nQueries: Int = 8, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, explode, round}
    val maxVec = (1L << 40) - 1
    val e = Inputs.embeddings(spark, dir)
    val qs = broadcast(e.filter(s"vec_id < $nQueries")
      .selectExpr("vec_id AS q_id", "embedding AS q"))
    e.filter(s"vec_id >= $nQueries").join(qs)
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.Cosine(col("embedding"), col("q")), 6).as("cosine"))
      .selectExpr("q_id",
        s"(CAST(round(cosine * 1000000) AS BIGINT) + 1000000) * ${1L << 40} + ($maxVec - vec_id) AS packed")
      .groupBy("q_id")
      .agg(graft.functions.TopKLongs(col("packed"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("p"))
      .selectExpr("q_id",
        s"$maxVec - (p & $maxVec) AS vec_id",
        "CAST(shiftright(p, 40) - 1000000 AS DOUBLE) / 1000000.0 AS cosine")
  }

  def annTopKBatchOracle(nQueries: Int = 8, k: Int = 5): String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    round(${cosSql("e.embedding", "q.embedding")}, 6) AS cosine
       |  FROM embeddings e
       |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $nQueries) q
       |  WHERE e.vec_id >= $nQueries
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT q_id, vec_id, cosine FROM ranked WHERE rk <= $k""".stripMargin

  def annTopKOracle(k: Int = 10): String =
    s"""SELECT vec_id, round(${cosSql("embedding", "q")}, 6) AS cosine
       |FROM embeddings CROSS JOIN (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
       |WHERE vec_id <> 0
       |ORDER BY cosine DESC, vec_id ASC LIMIT $k""".stripMargin

  private def bucketExpr(dot: Int => String, nPlanes: Int = Planes): String =
    (0 until nPlanes).map(p => s"CASE WHEN ${dot(p)} > 0 THEN ${1 << p} ELSE 0 END")
      .mkString(" + ")

  private def planeLitSql(ps: IndexedSeq[IndexedSeq[Int]])(p: Int): String =
    "[" + ps(p).map(v => s"$v.0").mkString(", ") + "]"

  private def planesD(ps: IndexedSeq[IndexedSeq[Int]]): Seq[Seq[Double]] =
    ps.map(_.map(_.toDouble).toSeq).toSeq

  /** Per-vector LSH bucket id (map-side only; no shuffle). Spark runs
    * the fused codegen'd [[graft.functions.LshBucket]] (identical
    * arithmetic); the oracle keeps the composed per-plane form. */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Inputs.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.LshBucket(col("embedding"), planesD(planes)).as("bucket"))
  }

  val lshBucketsOracle: String = {
    val b = bucketExpr(p => dotSql("embedding", planeLitSql(planes)(p)))
    s"SELECT vec_id, CAST($b AS INT) AS bucket FROM embeddings"
  }

  /** Multi-table banded LSH for the ANN/near-dup operators: each table
    * is an independent [[AnnPlanes]]-plane hash (seed "t<i>:"), so a pair
    * colliding in ANY table is a candidate. Tables buy recall, planes buy
    * selectivity (2^-planes per-bucket mass). */
  val AnnPlanes = 8
  val AnnTables = 4

  private lazy val tablePlanes: IndexedSeq[IndexedSeq[IndexedSeq[Int]]] =
    (0 until AnnTables).map(t => planesFor(s"t$t:", AnnPlanes))

  private def tableBucketSql(t: Int, emb: String): String =
    bucketExpr(p => dotSql(emb, planeLitSql(tablePlanes(t))(p)), AnnPlanes)

  /** (vec_id, tbl, bucket) — one row per vector per table (map-side;
    * all T·P dot products fused into one codegen'd pass per table). */
  private def bandedTables(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct}
    val structs = (0 until AnnTables).map { t =>
      struct(lit(t).as("tbl"),
        graft.functions.LshBucket(col("embedding"), planesD(tablePlanes(t))).as("bucket"))
    }
    Inputs.embeddings(spark, dir)
      .select(col("vec_id"), explode(array(structs: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  private val bandedTablesCte: String = {
    val selects = (0 until AnnTables)
      .map(t => s"SELECT vec_id, $t AS tbl, CAST(${tableBucketSql(t, "embedding")} AS INT) AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
    s"""banded AS (
       |  $selects
       |)""".stripMargin
  }

  /** LSH-pruned ANN: score only vectors sharing a bucket with the query
    * in at least one table (union of [[AnnTables]] probes). */
  def annLsh(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val banded = bandedTables(spark, dir)
    val qb = banded.filter("vec_id = 0").select("tbl", "bucket")
    val cands = banded.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter("vec_id <> 0").select("vec_id").distinct()
    val e = Inputs.embeddings(spark, dir)
    val q = e.filter("vec_id = 0").selectExpr("embedding AS q")
    import org.apache.spark.sql.functions.{asc, col, desc, round}
    e.join(cands, "vec_id")
      .join(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.Cosine(col("embedding"), col("q")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  def annLshOracle(k: Int = 5): String =
    s"""WITH $bandedTablesCte,
       |cands AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM banded b JOIN banded q ON q.vec_id = 0
       |    AND b.tbl = q.tbl AND b.bucket = q.bucket
       |  WHERE b.vec_id <> 0
       |)
       |SELECT e.vec_id, round(${cosSql("e.embedding", "q.q")}, 6) AS cosine
       |FROM embeddings e
       |JOIN cands c ON c.vec_id = e.vec_id
       |CROSS JOIN (SELECT embedding AS q FROM embeddings WHERE vec_id = 0) q
       |ORDER BY cosine DESC, e.vec_id ASC LIMIT $k""".stripMargin

  /** Embedding-cosine near-duplicate pairs: candidates = same-bucket
    * pairs in ANY of the [[AnnTables]] tables (deduped), scored once,
    * kept at cosine >= threshold (0.3 here: the synthetic corpus is
    * near-orthogonal random vectors, so a production 0.9+ cut would be
    * vacuous). Candidate generation is a (tbl, bucket) equi-join —
    * never all-pairs — and per-bucket mass shrinks 2^-AnnPlanes. */
  def embedNearDup(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.functions.col
    val banded = bandedTables(spark, dir)
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    val e = Inputs.embeddings(spark, dir)
    import org.apache.spark.sql.functions.round
    pairs
      .join(e.selectExpr("vec_id AS a_id", "embedding AS ea"), "a_id")
      .join(e.selectExpr("vec_id AS b_id", "embedding AS eb"), "b_id")
      .select(col("a_id"), col("b_id"),
        round(graft.functions.Cosine(col("ea"), col("eb")), 6).as("cosine"))
      .filter(s"cosine >= $threshold")
  }

  def embedNearDupOracle(threshold: Double = 0.3): String =
    s"""WITH $bandedTablesCte,
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM banded x JOIN banded y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
       |)
       |SELECT p.a_id, p.b_id,
       |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cosine
       |FROM pairs p
       |JOIN embeddings a ON a.vec_id = p.a_id
       |JOIN embeddings b ON b.vec_id = p.b_id
       |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= $threshold""".stripMargin

  /** q_embed_dup_clusters — embedding dedup taken END to end: the
    * LSH-banded near-dup pairs collapse to connected components via
    * the same O(log n) large-star/small-star contraction the text
    * pipeline uses ([[Dedup.connectedComponents]]), labeling every
    * participating vector with its component min. Singletons (vectors
    * with no near-dup) are deliberately absent: at 100 TB the pair
    * graph is sparse and the join back to the corpus is the consumer's
    * one equi-join ([[Dedup.keepList]] shape). */
  def embedDupClusters(spark: SparkSession, dir: String,
                       threshold: Double = 0.3): DataFrame =
    Dedup.connectedComponents(
      embedNearDup(spark, dir, threshold).select("a_id", "b_id"))._1
      .withColumnRenamed("doc_id", "vec_id")

  def embedDupClustersOracle(threshold: Double = 0.3): String =
    s"""WITH RECURSIVE $bandedTablesCte,
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM banded x JOIN banded y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
       |), cpair AS (
       |  SELECT p.a_id, p.b_id
       |  FROM cand p
       |  JOIN embeddings a ON a.vec_id = p.a_id
       |  JOIN embeddings b ON b.vec_id = p.b_id
       |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= $threshold
       |), edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM cpair
       |  UNION
       |  SELECT b_id AS src, a_id AS dst FROM cpair
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
       |)
       |SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src""".stripMargin

  /** IVF centroid ids: a deterministic coarse codebook — corpus vectors
    * 1..16 stand in for trained k-means centroids (training is an
    * offline concern; the operator shape — assign to nearest centroid,
    * probe one inverted list — is what scales). */
  val IvfCentroids = 16

  /** IVF cell assignment: nearest centroid by cosine (tie → smaller
    * centroid id), via a broadcast join + max_by HASH aggregate: the
    * ordering (ccos, -cent_id) is packed into one BIGINT (ccos is
    * 6dp-rounded so ccos*1e6 is integral; cent_id < 1024), keeping the
    * aggregation buffer fixed-width → HashAggregate with a map-side
    * combiner, no sort anywhere (a struct ordering would force
    * SortAggregate; the row_number window would shuffle all candidate
    * rows instead of one row per vector). */
  def ivfCells(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    val e = Inputs.embeddings(spark, dir)
    val cents = e.filter(s"vec_id BETWEEN 1 AND $IvfCentroids")
      .selectExpr("vec_id AS cent_id", "embedding AS cent")
    import org.apache.spark.sql.functions.{col, round}
    e.join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        round(graft.functions.Cosine(col("embedding"), col("cent")), 6).as("ccos"))
      .groupBy("vec_id")
      .agg(expr(
        "max_by(cent_id, CAST(round(ccos * 1000000) AS BIGINT) * 1024 - cent_id) AS cent_id"))
  }

  val ivfCellsOracle: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND $IvfCentroids
       |), scored AS (
       |  SELECT e.vec_id, c.cent_id,
       |    round(${cosSql("e.embedding", "c.cent")}, 6) AS ccos
       |  FROM embeddings e CROSS JOIN cents c
       |), ranked AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, cent_id FROM ranked WHERE rk = 1""".stripMargin

  /** How many of the query's nearest refined centroids to probe. */
  val IvfNProbe = 2

  /** Nearest-centroid assignment (vec_id, embedding, cent_id) against a
    * broadcast codebook (≤ [[IvfCentroids]] rows): the packed max_by
    * HashAggregate — (ccos 6dp-rounded, so ccos*1e6 is integral; cent_id
    * < 1024) packed into one BIGINT keeps the buffer fixed-width, so no
    * sort anywhere. `floatCodebook` selects the float×float cosine
    * kernel (raw seed embeddings) vs the float×double one (refined
    * fixed-point-mean centroids are double[]); both compute in double
    * with identical summation order. The member embedding is carried
    * through the aggregate (group-constant, so first() is
    * deterministic) to avoid a corpus-sized rejoin. */
  private def assignTo(e: DataFrame, codebook: DataFrame,
                       floatCodebook: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, round}
    val cos =
      if (floatCodebook) graft.functions.Cosine(col("embedding"), col("cent"))
      else graft.functions.Cosine.fd(col("embedding"), col("cent"))
    e.join(broadcast(codebook))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        round(cos, 6).as("ccos"))
      .groupBy("vec_id")
      .agg(expr(
        "max_by(cent_id, CAST(round(ccos * 1000000) AS BIGINT) * 1024 - cent_id) AS cent_id"),
        expr("first(embedding) AS embedding"))
  }

  /** Per-cell FIXED-POINT mean of the members of an assignment: each
    * component rounded to 1e-6 ticks, summed as integers (order-free, so
    * cross-engine exact), offset non-negative, floor-divided by the
    * member count. Cells that lost all members simply vanish (GROUP BY
    * semantics, same in both engines). */
  private def fixedPointMeans(assign: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, expr, lit, sum}
    val sums = (0 until Dim).map(j => sum(expr(
      s"CAST(round(CAST(element_at(embedding, ${j + 1}) AS DOUBLE) * 1000000) AS BIGINT)")).as(s"s$j"))
    val mean = (0 until Dim).map(j =>
      s"CAST(((s$j + 1000000 * cnt) div cnt) - 1000000 AS DOUBLE) / 1000000.0").mkString(", ")
    assign.groupBy("cent_id")
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .selectExpr("cent_id", s"array($mean) AS cent")
  }

  /** Codebook after `iterations` deterministic Lloyd passes over the
    * seed centroids (iterations = 0 → the raw float seeds themselves).
    * Each pass = one broadcast-join assignment over the corpus + one
    * ≤[[IvfCentroids]]-row aggregation; the tiny codebook is
    * localCheckpoint'ed per pass so plan depth stays constant. Returns
    * (codebook, isFloat) — isFloat tells callers which cosine kernel
    * matches the codebook's element type. */
  private def refinedCentroids(spark: SparkSession, dir: String,
                               iterations: Int = 1): (DataFrame, Boolean) = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val e = Inputs.embeddings(spark, dir)
    val seeds = e.filter(s"vec_id BETWEEN 1 AND $IvfCentroids")
      .selectExpr("vec_id AS cent_id", "embedding AS cent")
    var codebook = seeds
    var isFloat = true
    for (_ <- 1 to iterations) {
      codebook = fixedPointMeans(assignTo(e, codebook, isFloat)).localCheckpoint()
      isFloat = false
    }
    (codebook, isFloat)
  }

  /** IVF-probed ANN with `iterations` k-means refinement passes
    * (default 1; 0 = raw seed centroids) and nprobe = [[IvfNProbe]]:
    * assign every vector to its nearest codebook centroid, probe the
    * query's nprobe nearest cells, exact-rank the candidates. All
    * centroid joins broadcast (≤ 16 rows); assignment is the packed
    * max_by HashAggregate (no window, no sort); the final top-k is
    * TakeOrderedAndProject.
    *
    * Measured recall vs [[annTopK]] brute force (same k=5; full
    * recall-vs-(nprobe, iterations) grid, measured in round 7, in
    * COVERAGE.md; sf0.001 points pinned by OperatorsSpec): at
    * iterations=1, nprobe=2 finds 3/5 at BOTH sf, rising to 4/5 (sf0.001)
    * and 5/5 (sf0.01) at nprobe=8 — i.e. probing 2/16 cells (12.5% of
    * the corpus) buys 60% of exact recall on this NEAR-ORTHOGONAL
    * synthetic corpus, the hardest case for coarse quantization, and
    * recall climbs monotonically with nprobe. Extra Lloyd passes are
    * recall-neutral here (near-orthogonal vectors give k-means nothing
    * to converge onto — means barely move); on clustered real corpora
    * the refined cells align with similarity structure, which is where
    * iterations earns its cost. The iteration parameterization itself is
    * oracle-proven cross-engine by q_ann_ivf2 (iterations=2). */
  /** Final assignment: nearest codebook centroid per vector — fused
    * cosine kernel (same left-to-right sums as the HOF/SQL form, one
    * codegen'd loop instead of 6·dim interpreted lambda calls per pair).
    * Returns (assignment with embedding carried, broadcastable codebook,
    * codebook-is-float). The codebook (≤ IvfCentroids rows) feeds the
    * vector assignment, the query probe, and the candidate join —
    * materialized once (localCheckpoint in refinedCentroids) instead of
    * re-running the training passes per consumer. */
  private def ivfAssignment(spark: SparkSession, dir: String,
                            iterations: Int = 1): (DataFrame, DataFrame, Boolean) = {
    val e = Inputs.embeddings(spark, dir)
    val (rc, isFloat) = refinedCentroids(spark, dir, iterations)
    (assignTo(e, rc, isFloat), rc, isFloat)
  }

  def annIvf(spark: SparkSession, dir: String, k: Int = 5,
             nprobe: Int = IvfNProbe, iterations: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.{asc, broadcast, col, desc, round}
    val e = Inputs.embeddings(spark, dir)
    val (a1, rc, cbFloat) = ivfAssignment(spark, dir, iterations)
    val q = e.filter("vec_id = 0").selectExpr("embedding AS qv")
    val qcosExpr =
      if (cbFloat) graft.functions.Cosine(col("qv"), col("cent"))
      else graft.functions.Cosine.fd(col("qv"), col("cent"))
    val qtop = rc.join(broadcast(q))
      .select(col("cent_id"), round(qcosExpr, 6).as("qcos"))
      .orderBy(desc("qcos"), asc("cent_id")).limit(nprobe)
      .select("cent_id")
    a1.join(broadcast(qtop), "cent_id")
      .filter("vec_id <> 0")
      .join(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.Cosine(col("embedding"), col("qv")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Shared oracle CTE chain, parameterized on Lloyd passes: seeds
    * (cents0) -> [assign -> fixed-point means] × iterations -> rcent
    * (the final codebook) -> a1 (the final assignment). Emitted WITHOUT
    * the leading WITH keyword; the terminal CTE names `rcent`/`a1` are
    * fixed so every consumer query body is iteration-agnostic. Mirrors
    * [[refinedCentroids]]/[[ivfAssignment]] exactly (cosSql computes in
    * double either way, so the float/double codebook distinction the
    * Scala kernels carry is a no-op here). */
  private def ivfCteChain(iterations: Int = 1): String = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val sums = (0 until Dim).map(j =>
      s"CAST(sum(CAST(round(embedding[${j + 1}]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS s$j")
      .mkString(",\n    ")
    val mean = (0 until Dim).map(j =>
      s"(((s$j + 1000000 * cnt) // cnt) - 1000000)::DOUBLE / 1000000.0").mkString(", ")
    def assignCte(name: String, codebook: String): String =
      s"""${name}_scored AS (
         |  SELECT e.vec_id, e.embedding, c.cent_id,
         |    round(${cosSql("e.embedding", "c.cent")}, 6) AS ccos
         |  FROM embeddings e CROSS JOIN $codebook c
         |), $name AS (
         |  SELECT vec_id, embedding, cent_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rk
         |    FROM ${name}_scored) WHERE rk = 1
         |)""".stripMargin
    val seed =
      s"""cents0 AS (
         |  SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND $IvfCentroids
         |)""".stripMargin
    val passes = (1 to iterations).map { t =>
      s"""${assignCte(s"a0_$t", s"cents${t - 1}")}, rsums$t AS (
         |  SELECT cent_id, count(*) AS cnt,
         |    $sums
         |  FROM a0_$t GROUP BY cent_id
         |), cents$t AS (
         |  SELECT cent_id, [$mean] AS cent FROM rsums$t
         |)""".stripMargin
    }
    val terminal =
      s"""rcent AS (
         |  SELECT cent_id, cent FROM cents$iterations
         |), ${assignCte("a1", "rcent")}""".stripMargin
    (Seq(seed) ++ passes ++ Seq(terminal)).mkString(", ")
  }

  /** Embedding near-duplicate pairs with IVF-CELL blocking — the
    * clustering-based alternative to the banded-LSH candidate generator
    * ([[embedNearDup]]): candidates = pairs assigned to the same refined
    * centroid, scored once with the fused cosine, kept at >= threshold.
    * Where LSH bounds per-bucket mass by adding planes, IVF bounds it by
    * adding centroids (cells shrink as k grows) — on clustered real
    * corpora the cells align with the similarity structure, making this
    * the tighter blocker; on this near-orthogonal synthetic corpus the
    * threshold is set low like embedNearDup's so the oracle row set
    * stays non-trivial. */
  def embedNearDupIvf(spark: SparkSession, dir: String,
                      threshold: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    val (a1, _, _) = ivfAssignment(spark, dir)
    a1.as("x").join(a1.as("y"),
        col("x.cent_id") === col("y.cent_id") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        round(graft.functions.Cosine(col("x.embedding"), col("y.embedding")), 6).as("cosine"))
      .filter(s"cosine >= $threshold")
  }

  def embedNearDupIvfOracle(threshold: Double = 0.25): String =
    s"""WITH ${ivfCteChain()}
       |SELECT x.vec_id AS a_id, y.vec_id AS b_id,
       |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cosine
       |FROM a1 x JOIN a1 y ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
       |WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= $threshold""".stripMargin

  /** q_ann_ivf_quantized — the faiss IVFSQ recipe composed from two
    * proven parts: the IVF coarse probe selects nprobe cells, then the
    * candidates are scored on their INT8-quantized vectors
    * ([[Quantize]] sufficient statistics; exact integer cross-products,
    * one fixed double combination). At 100 TB this is the standard
    * production ANN shape: the float corpus never loads — only the
    * cell-pruned quarter-width codes do. */
  def annIvfQuantized(spark: SparkSession, dir: String, k: Int = 5,
                      nprobe: Int = IvfNProbe, iterations: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.{asc, broadcast, col, desc, round}
    val e = Inputs.embeddings(spark, dir)
    val (a1, rc, cbFloat) = ivfAssignment(spark, dir, iterations)
    val q = e.filter("vec_id = 0").selectExpr("embedding AS qv")
    val qcosExpr =
      if (cbFloat) graft.functions.Cosine(col("qv"), col("cent"))
      else graft.functions.Cosine.fd(col("qv"), col("cent"))
    val qtop = rc.join(broadcast(q))
      .select(col("cent_id"), round(qcosExpr, 6).as("qcos"))
      .orderBy(desc("qcos"), asc("cent_id")).limit(nprobe)
      .select("cent_id")
    val f = Quantize.qframe(spark, dir)
    val qq = f.filter("vec_id = 0").selectExpr("codes AS q_codes",
      "lo AS q_lo", "s AS q_s", "s_sum AS q_sum", "s_sq AS q_sq")
    val probed = a1.join(broadcast(qtop), "cent_id")
      .filter("vec_id <> 0").select("vec_id")
    f.join(probed, "vec_id")
      .join(broadcast(qq))
      .selectExpr("vec_id", "lo", "s", "n", "s_sum", "s_sq",
        "q_lo", "q_s", "q_sum", "q_sq",
        "aggregate(zip_with(codes, q_codes, (a, b) -> a * b), 0L, (acc, x) -> acc + x) AS x")
      .selectExpr("vec_id", s"${Quantize.qcosSql} AS qcosine")
      .orderBy(desc("qcosine"), asc("vec_id"))
      .limit(k)
  }

  def annIvfQuantizedOracle(k: Int = 5, nprobe: Int = IvfNProbe,
                            iterations: Int = 1): String =
    s"""WITH ${ivfCteChain(iterations)},
       |${Quantize.statsCtes},
       |qv AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |), qtop AS (
       |  SELECT r.cent_id FROM rcent r CROSS JOIN qv
       |  ORDER BY round(${cosSql("r.cent", "qv.qv")}, 6) DESC, r.cent_id ASC
       |  LIMIT $nprobe
       |), probed AS (
       |  SELECT a1.vec_id FROM a1 JOIN qtop ON qtop.cent_id = a1.cent_id
       |  WHERE a1.vec_id <> 0
       |), joined AS (
       |  SELECT e.vec_id, e.lo, e.s, e.n, e.s_sum, e.s_sq,
       |    q.lo AS q_lo, q.s AS q_s, q.s_sum AS q_sum, q.s_sq AS q_sq,
       |    CAST(list_sum(list_transform(generate_series(1, e.n),
       |      i -> e.codes[i] * q.codes[i])) AS BIGINT) AS x
       |  FROM st e JOIN probed p ON p.vec_id = e.vec_id
       |  CROSS JOIN (SELECT * FROM st WHERE vec_id = 0) q
       |)
       |SELECT vec_id, ${Quantize.qcosSql} AS qcosine
       |FROM joined
       |ORDER BY qcosine DESC, vec_id ASC
       |LIMIT $k""".stripMargin

  def annIvfOracle(k: Int = 5, nprobe: Int = IvfNProbe,
                   iterations: Int = 1): String =
    s"""WITH ${ivfCteChain(iterations)},
       |qv AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |), qtop AS (
       |  SELECT r.cent_id FROM rcent r CROSS JOIN qv
       |  ORDER BY round(${cosSql("r.cent", "qv.qv")}, 6) DESC, r.cent_id ASC
       |  LIMIT $nprobe
       |)
       |SELECT a1.vec_id, round(${cosSql("a1.embedding", "qv.qv")}, 6) AS cosine
       |FROM a1 JOIN qtop ON qtop.cent_id = a1.cent_id CROSS JOIN qv
       |WHERE a1.vec_id <> 0
       |ORDER BY cosine DESC, a1.vec_id ASC LIMIT $k""".stripMargin
}
