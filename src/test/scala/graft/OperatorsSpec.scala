package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Dedup, Similarity, TextStats}

/**
 * Invariant checks for the training-data operators at sf0.001. Exact
 * value equality is enforced by the DuckDB oracle gate (graft.Verify);
 * these assert the structural properties the oracle can't see.
 */
class OperatorsSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("scrub-keywords oracle contract: the documents corpus is pure ASCII") {
    // the AC scrub (Java \b, Unicode-aware) and the DuckDB/RE2 'gi'
    // oracle (ASCII \b) agree only on ASCII text — assert the contract
    // holds for every sf dir the oracle runs on (see TextStats Scaladoc)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val nonAscii = spark.read.parquet(s"$d/documents.parquet")
        .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
      withClue(s"dir: $d") { nonAscii shouldBe 0L }
    }
    // ...and the seeded suffixes + keyword set are ASCII by construction
    (Seq(" call me on my phone", " my SSN is secret", " Email: test, reach me soon") ++
      graft.rules.PiiRules.ContextKeywords)
      .foreach(s => all(s.map(_.toInt)) should be < 128)
  }

  test("Inputs split-count memo follows a rewrite at the same file: URI") {
    import spark.implicits._
    val d = "file:" + java.nio.file.Files.createTempDirectory("inputs_uri").toString
    val dp = spark.sparkContext.defaultParallelism
    val rows = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 1 MB split and open cost: every small file is its own scan split,
    // so the split count is the file count
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "1048576"))
    try {
      rows.coalesce(1).write.parquet(s"$d/documents.parquet")
      operators.Inputs.documents(spark, d).rdd.getNumPartitions shouldBe dp
      // more files than cores: the re-read must see the new layout and
      // pass the scan through unshuffled, not replay the 1-split count
      rows.repartition(dp + 2).write.mode("overwrite").parquet(s"$d/documents.parquet")
      operators.Inputs.documents(spark, d).rdd.getNumPartitions shouldBe dp + 2
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("exact dedup: content hash is a bijection on this all-distinct corpus") {
    val d = Dedup.exact(spark, dir)
    d.count() shouldBe 500
    d.agg(max("n_dups")).head().getLong(0) shouldBe 1L
  }

  test("minhash signatures: 32 components, stable across runs") {
    val a = Dedup.minhashSig(spark, dir).orderBy("doc_id").head(3)
    val b = Dedup.minhashSig(spark, dir).orderBy("doc_id").head(3)
    a.map(_.getString(1)) shouldBe b.map(_.getString(1))
    all(a.map(_.getString(1).split(",").length)) shouldBe Dedup.NumHashes
    // the hash family must be real: components non-empty and (for a
    // many-shingle doc) not all identical — a slicing bug past the digest
    // end yields '' windows and every LSH band collides corpus-wide
    a.foreach { r =>
      val comps = r.getString(1).split(",")
      all(comps.map(_.length)) shouldBe 8
      comps.distinct.length should be > 1
    }
  }

  test("LSH candidate pairs carry true jaccard in (0, 1] and are selective") {
    val rows = Dedup.minhashPairs(spark, dir).collect()
    all(rows.map(_.getDouble(2))) should (be > 0.0 and be <= 1.0)
    rows.foreach(r => r.getLong(0) should be < r.getLong(1))
    // candidate generation must prune: nowhere near all C(500,2) pairs
    rows.length should be < 1000
  }

  test("LSH pair join is skew-safe: exact dups collapse to one representative") {
    import spark.implicits._
    // 1000 byte-identical docs + 20 distinct: without the representative
    // stage this emits C(1000,2) ≈ 500k pairs from one bucket; with it,
    // the identical texts contribute ZERO pairs (the exact stage owns them)
    val docs = ((0 until 1000).map(i => (i.toLong, "the same boilerplate text repeated verbatim in every doc")) ++
      (1000 until 1020).map(i => (i.toLong, s"unique document number $i about topic ${i % 7} with extra words"))
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsOver(docs).collect()
    pairs.count(r => r.getLong(0) < 1000L && r.getLong(1) < 1000L) shouldBe 0
    pairs.length should be < 200 // bounded: only the 20 distinct docs can pair
  }

  test("LSH bucket cap drops oversized candidate buckets") {
    import spark.implicits._
    // 100 distinct docs sharing one 3-token prefix shingle set won't all
    // bucket together, so instead: same text + unique suffix token keeps
    // most bands identical → buckets of ~100 > cap=8 get dropped
    val docs = (0 until 100).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota kappa token$i")).toDF("doc_id", "text")
    val capped = Dedup.minhashPairsOver(docs, cap = 8).count()
    val uncapped = Dedup.minhashPairsOver(docs, cap = 1000000).count()
    uncapped should be > 1000L // near-identical docs do flood the pair join
    capped should be < uncapped // the cap visibly prunes it
  }

  test("dup clusters: chained near-dups collapse into one component labeled by min id") {
    import spark.implicits._
    // a chain of overlapping near-identical docs (each shares shingles
    // with its neighbor) must propagate the min label across the whole
    // chain, not just adjacent pairs
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = ((0 until 6).map(i => (10L + i, s"$base chain$i chain${i + 1}")) ++
      Seq((99L, "a totally different document about unrelated things entirely"))
    ).toDF("doc_id", "text")
    val clusters = Dedup.dupClustersOver(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (10L to 15L).foreach { id => clusters(id) shouldBe 10L }
    clusters.get(99L) shouldBe None // no pairs -> not in any cluster
  }

  test("adjacent jaccard: symmetric-set measure stays in [0, 1]") {
    val rows = Dedup.jaccardAdjacent(spark, dir).collect()
    rows.length should be >= 490
    all(rows.map(_.getDouble(2))) should (be >= 0.0 and be <= 1.0)
  }

  test("simhash fits in 16 bits and identical docs collide") {
    val rows = Dedup.simhash(spark, dir).collect()
    all(rows.map(_.getInt(1))) should (be >= 0 and be < 65536)
  }

  test("ANN brute-force top-k: k rows, descending, self excluded") {
    val rows = Similarity.annTopK(spark, dir).collect()
    rows.length shouldBe 10
    rows.map(_.getDouble(1)).toSeq shouldBe rows.map(_.getDouble(1)).sorted.reverse.toSeq
    rows.map(_.getLong(0)) should not contain 0L
  }

  test("ANN LSH results are a subset of a large brute-force ranking") {
    val brute = Similarity.annTopK(spark, dir, k = 499)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.annLsh(spark, dir).collect()
    lsh.foreach { r =>
      brute(r.getLong(0)) shouldBe r.getDouble(1) +- 1e-9 // same scoring kernel
    }
  }

  test("langid picks a language with a deterministic tiebreak") {
    val rows = TextStats.langId(spark, dir).collect()
    rows.length shouldBe 500
    all(rows.map(_.getString(1))) should (be("de") or be("en") or be("es") or be("fr"))
  }

  test("quality score is bounded and pass implies the component gates") {
    val rows = TextStats.quality(spark, dir).collect()
    all(rows.map(_.getAs[Double]("quality_score"))) should (be >= 0.0 and be <= 1.0)
    rows.filter(_.getAs[Boolean]("pass")).foreach { r =>
      r.getAs[Double]("quality_score") should be > 0.5
      r.getAs[Int]("n_tokens") should be >= 5
    }
  }

  test("perplexity: corpus-trained bigram LM scores are finite, > 1, deterministic") {
    val a = graft.operators.Perplexity.score(spark, dir).orderBy("doc_id").head(5)
    val b = graft.operators.Perplexity.score(spark, dir).orderBy("doc_id").head(5)
    a.map(_.getDouble(2)) shouldBe b.map(_.getDouble(2))
    all(a.map(_.getDouble(2))) should be > 1.0
  }

  test("token counts: regex segmentation never undercounts whitespace tokens") {
    TextStats.tokenCount(spark, dir)
      .filter(col("regex_tokens") < col("ws_tokens")).count() shouldBe 0L
  }

  test("fingerprint: min shingle hash is order-insensitive to duplicates and stable") {
    val a = TextStats.fingerprint(spark, dir).orderBy("doc_id").head(5)
    val b = TextStats.fingerprint(spark, dir).orderBy("doc_id").head(5)
    a.map(_.getString(2)) shouldBe b.map(_.getString(2))
  }

  test("LSH bucket cap: dropped-mass observation fires on a boilerplate corpus") {
    import spark.implicits._
    // 1000 near-identical docs (one trailing token differs): every band
    // bucket goes boilerplate-sized, far over the cap — the recall cost
    // must surface in the observation, never silently
    val common = (1 to 50).map(i => s"tok$i").mkString(" ")
    val docs = (1 to 1000).map(i => (i.toLong, s"$common tail$i"))
      .toDF("doc_id", "text")
    val obs = org.apache.spark.sql.Observation()
    Dedup.minhashPairsOver(docs, obs = Some(obs)).count()
    val m = obs.get
    m("dropped_rows").asInstanceOf[Long] should be > 0L
    m("max_bucket").asInstanceOf[Long] should be > Dedup.DefaultBucketCap.toLong
    // and on the real corpus the cap sits ABOVE the max bucket: nothing
    // dropped, q_minhash_pairs unchanged
    val real = Dedup.lshDroppedStats(spark, dir).head()
    real.getLong(0) shouldBe 0L
    real.getLong(1) shouldBe 0L
    real.getLong(2) should be <= Dedup.DefaultBucketCap.toLong
  }

  test("dedup keep-list: canonicals are kept, dropped docs point at kept canonicals") {
    val rows = Dedup.keepList(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2), r.getLong(3))).toMap
    rows.foreach { case (doc, (keep, reason, canonical)) =>
      if (keep) {
        reason shouldBe "keep"
        canonical shouldBe doc // a keeper is its own canonical
      } else {
        Seq("exact_dup", "near_dup") should contain(reason)
        canonical should not be doc
        rows(canonical)._1 shouldBe true // every drop resolves to a keeper
      }
    }
    // exact dups in a synthetic corpus with duplicated rows
    import spark.implicits._
    val docs = Seq((1L, "same text here"), (2L, "same text here"),
      (3L, "unique enough words entirely different")).toDF("doc_id", "text")
    val m = Dedup.keepListOver(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2), r.getLong(3))).toMap
    m(1L) shouldBe ((true, "keep", 1L))
    m(2L) shouldBe ((false, "exact_dup", 1L))
    m(3L) shouldBe ((true, "keep", 3L))
  }

  test("big-star components: 64-link chain converges in O(log n) rounds, labels exact") {
    import spark.implicits._
    // the adversarial shape for min-label propagation: one path graph of
    // diameter 64 (label-prop would need 64 rounds; the contraction must
    // stay logarithmic) plus a disjoint triangle
    val chain = (1L to 64L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (chain ++ tri).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.connectedComponents(pairs)
    rounds should be <= 8
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 65L).foreach(i => m(i) shouldBe 1L)
    Seq(100L, 101L, 102L).foreach(i => m(i) shouldBe 100L)
  }

  test("big-star components == union-find on random graphs") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val r = new scala.util.Random(seed)
      val n = 40
      val pairs = Seq.fill(25)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      // union-find reference with min-element labels
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(
        pairs.toDF("a_id", "b_id"))._1.collect()
        .map(row => row.getLong(0) -> row.getLong(1)).toMap
      withClue(s"seed $seed") { got shouldBe expected }
    }
  }

  test("big-star components agree with label propagation on the real corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val a = Dedup.dupClustersBigStarOver(docs)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = Dedup.dupClustersOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    a shouldBe b
  }

  test("embedding dup clusters: labels cover exactly the near-dup pair nodes") {
    val pairs = graft.operators.Similarity.embedNearDup(spark, dir).collect()
    val nodes = pairs.flatMap(r =>
      Seq(r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val labels = graft.operators.Similarity.embedDupClusters(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    labels.keySet shouldBe nodes
    // every cluster id is its own cluster's min member and a real node
    labels.values.foreach(c => labels(c) shouldBe c)
    labels.foreach { case (v, c) => c should be <= v }
  }

  test("IVF with refinement: recall climbs with nprobe (RecallProbe curve points)") {
    val brute = Similarity.annTopK(spark, dir, k = 5)
      .collect().map(_.getLong(0)).toSet
    def recall(np: Int, it: Int = 1) =
      (Similarity.annIvf(spark, dir, k = 5, nprobe = np, iterations = it)
        .collect().map(_.getLong(0)).toSet & brute).size
    // sf0.001 row of the COVERAGE.md recall table (iterations = 1)
    recall(2) shouldBe 3 // the number quoted in annIvf's Scaladoc
    recall(2) should be > recall(1)
    recall(4) shouldBe 3 // plateau: cells 3..4 hold no extra true neighbors here
    recall(8) shouldBe 4 // half the codebook probed recovers a 4th
    // iterations=0 (raw seed centroids) is a valid codebook too
    recall(2, it = 0) should be >= recall(1, it = 0)
  }

  test("langid model: bounded weight table, total coverage, deterministic") {
    import graft.operators.LangIdModel
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m = LangIdModel.model(docs)
    m.count() should be <= LangIdModel.Buckets.toLong
    // fixed-point class frequencies are non-negative and bounded by Scale
    val cols = LangIdModel.Langs.map(l => col(s"w_$l"))
    m.filter(cols.map(c => c < 0L || c > LangIdModel.Scale).reduce(_ || _))
      .count() shouldBe 0L
    val p = LangIdModel.predict(spark, dir)
    p.count() shouldBe docs.count() // every (non-empty) doc gets one prediction
    p.select("lang_pred").distinct().collect().map(_.getString(0))
      .foreach(l => LangIdModel.Langs should contain(l))
    val a = p.orderBy("doc_id").head(5)
    val b = LangIdModel.predict(spark, dir).orderBy("doc_id").head(5)
    a.map(r => (r.getString(1), r.getLong(2))) shouldBe
      b.map(r => (r.getString(1), r.getLong(2)))
  }
}
