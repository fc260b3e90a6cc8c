package graft

/** Plan-shape guards for the scale-critical queries: these assert the
  * OPTIMIZED plan keeps the properties the operators were designed for —
  * a regression here is invisible to correctness tests but multiplies
  * work at 100 TB.
  */
class PlanCheckSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("lsh verify stage evaluates array_intersect once per candidate") {
    // one staged eval in the filter (per candidate) + one in the
    // survivors' jaccard projection — never two per candidate (a
    // jaccard-form threshold gets pushed into the join with the staged
    // alias re-expanded)
    plan(Queries.q_dedup_ngram_lsh(spark, sf)).split("\n").foreach { l =>
      val n = "array_intersect".r.findAllIn(l).size
      assert(n <= 1, s"array_intersect evaluated $n times in: ${l.trim.take(200)}")
    }
  }

  test("flagship star-schema rollup broadcasts every dimension") {
    val p = plan(SparkEntry.entry(spark))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4,
      "expected all 4 dimension joins broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a dimension fell off the broadcast path onto a full shuffle join")
  }

  test("predicate pushdown reaches the parquet scan") {
    val p = plan(Queries.q_filter_pushdown(spark, sf))
    assert(p.contains("PushedFilters: ["), "no PushedFilters in scan")
    assert(!p.contains("PushedFilters: []"),
      "predicates did not reach the parquet scan")
  }

  test("exact dedup is a single shuffle") {
    val p = plan(Queries.q_dedup_exact(spark, sf))
    // one exchange for the hash groupBy; the explode and projection stay
    // in the same stage (orderBy in the query entry adds a display sort)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges")
  }

  test("decontamination broadcasts the benchmark side") {
    val p = plan(Queries.q_decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "benchmark posting list is not broadcast — corpus would shuffle")
  }

  test("similarity top-k avoids a global sort") {
    val p = plan(Queries.q_similarity_topk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k lost TakeOrderedAndProject (global Sort+Exchange instead)")
  }

  test("catalog INSERT: one exchange, sort on chunk transforms only") {
    // the bulk-write path of record: Spark clusters rows by the
    // chunk_coord function transform in ONE exchange and sorts on the
    // CLUSTER KEYS ONLY — re-adding i0..iN tiebreakers (the round-5
    // inversion: 6-key sort, 2.7× the provider route) or a second
    // exchange would silently re-tax every 100 TB ingest
    import graft.repo._
    import graft.storage.Store
    val dir = tmpDir("plans-cat")
    val repo = Repository.create(Store.local(dir.toString), spark)
    val s = repo.writableSession("main")
    s.addArray("/cube", Seq(16, 16), Seq(4, 16),
      userData = """{"dtype":"int64"}""")
    s.commit("init")
    spark.conf.set("spark.sql.catalog.plancat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.plancat.path", dir.toString)
    val p = spark.sql(
      """EXPLAIN FORMATTED INSERT INTO plancat.cube
        |SELECT id div 16 AS i0, id % 16 AS i1, id AS value
        |FROM range(256)""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange, found $exchanges\n$p")
    // the static-invoke binding of chunk_coord (no per-row bound-object
    // call inside the exchange partitioner)
    assert(p.contains("static_invoke(graft.sources.ChunkCoordBoundFunction"),
      s"chunk_coord did not bind via StaticInvoke:\n$p")
    // sort keys: cluster transforms only, never the raw i columns
    assert(!"i0#\\d+L? ASC".r.findFirstIn(p).isDefined,
      s"sort re-acquired an i0 tiebreaker (6-key sort regression):\n$p")
  }

  test("values-write distribution contract: cluster keys only, no " +
      "i-tiebreakers") {
    // the DSv2 write command never reaches the QueryExecutionListener,
    // so this guards the RequiresDistributionAndOrdering contract
    // directly: the 6-key sort regression (cluster keys + i0..iN
    // tiebreakers — the round-5 2.7× inversion) cannot reappear in
    // either clustered route without failing here
    import org.apache.spark.sql.types._
    val base = StructType(Seq("i0", "i1", "value")
      .map(n => StructField(n, LongType)))
    val withHelpers = StructType(base.fields ++ Seq("_c0", "_c1")
      .map(n => StructField(n, LongType)))
    def keys(w: graft.sources.GraftValuesWrite): Seq[String] =
      w.requiredOrdering().toSeq.map(_.expression().describe())

    // provider route + _c helpers: sort on the two helper refs only
    val wp = new graft.sources.GraftValuesWrite(Map.empty, withHelpers,
      Seq(4L, 16L), Seq(16L, 16L), "int64", "raw", helperClustered = true)
    assert(keys(wp) == Seq("_c0", "_c1"), s"helper sort keys: ${keys(wp)}")
    assert(wp.requiredNumPartitions() == 0) // AQE sizes the exchange

    // catalog route: sort on the two chunk_coord transforms only
    val wc = new graft.sources.GraftValuesWrite(
      Map("via-catalog" -> "true"), base,
      Seq(4L, 16L), Seq(16L, 16L), "int64", "raw")
    val ck = keys(wc)
    assert(ck.length == 2 && ck.forall(_.contains("chunk_coord")),
      s"catalog sort keys: $ck")
    assert(ck.forall(k => !k.startsWith("i")), s"catalog sort keys: $ck")
    assert(wc.requiredNumPartitions() == 0)

    // ordered fallback keeps the FULL row-major sort (the stripe plan
    // depends on it) and caps partitions by stripe geometry
    val wo = new graft.sources.GraftValuesWrite(Map.empty, base,
      Seq(4L, 16L), Seq(16L, 16L), "int64", "raw")
    assert(keys(wo) == Seq("i0", "i1"), s"ordered sort keys: ${keys(wo)}")
    assert(wo.requiredNumPartitions() >= 1)
  }

  test("bm25 broadcasts the singleton stats row and takes top-k without " +
      "a global sort") {
    val p = plan(Queries.q_bm25(spark, sf))
    // the cross join against the 1-row corpus-stats aggregate must stay
    // broadcast — a shuffled join here re-taxes the whole corpus scan
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"corpus stats row is not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "bm25 planned a CartesianProduct")
    assert(p.contains("TakeOrderedAndProject"),
      "bm25 top-k lost TakeOrderedAndProject")
  }

  test("word frequencies: map-side combined aggregate, top-k not a global sort") {
    val p = plan(Queries.q_word_freq(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "word-freq top-k lost TakeOrderedAndProject")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "word-freq aggregate lost its partial (map-side) phase")
  }

  test("asof join plans as union+window — no join operator at all") {
    val p = plan(Queries.q_asof_join(spark, sf))
    assert(p.contains("Window"), "asof join lost its window formulation")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"asof join regressed to a join operator:\n${p.take(2000)}")
  }

  test("band join plans an equi-join on (key, bucket) — no nested loop") {
    val p = plan(Queries.q_band_join(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"band join regressed to a nested loop:\n${p.take(2000)}")
  }

  test("trigram LM scoring joins its model tables via broadcast") {
    val p = plan(Queries.q_lm_score(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"model tables must broadcast (bounded by charset^3):\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "a model join fell onto a corpus-wide shuffle join")
  }

  test("no pipeline query plans a cartesian or nested-loop join") {
    val checked = Seq("q_dedup_minhash", "q_dedup_simhash",
      "q_dedup_ngram_jaccard", "q_dedup_ngram_lsh", "q_embedding_neardups",
      "q_decontaminate", "q_dedup_clusters",
      "q_substring_spans", "q_semantic_keep", "q_classifier_score",
      "q_tfidf_keywords", "q_funnel_stages", "q_ngram_novelty")
    checked.foreach { name =>
      val p = plan(Queries.all(name)(spark, sf))
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name plans a BroadcastNestedLoopJoin")
    }
  }

  test("batched ANN: the PRODUCTION op plans no all-pairs join; the " +
      "audit query carries exactly its one documented exact side") {
    // neighborsPerVector is the 100 TB path — bucket equi-join only
    val prod = plan(graft.pipeline.Similarity.neighborsPerVector(
      spark.read.parquet(s"$sf/embeddings.parquet"), k = 5, numPlanes = 6))
    assert(!prod.contains("CartesianProduct") &&
      !prod.contains("BroadcastNestedLoopJoin"),
      s"neighborsPerVector must stay bucket-joined:\n${prod.take(2000)}")
    // past the 20,000-vector bound the Spark route plans; it too stays
    // bucket-joined
    import org.apache.spark.sql.functions.{col, expr}
    val overBound = plan(graft.pipeline.Similarity.neighborsPerVector(
      spark.range(20001).select(col("id").as("vec_id"), expr(
        "transform(sequence(0, 7), i -> " +
          "cast((xxhash64(id, i) % 1000) / 1000.0 as float))").as("embedding")),
      k = 5, numPlanes = 6, dim = 8))
    assert(overBound.contains("SortMergeJoin") ||
      overBound.contains("BroadcastHashJoin"), overBound.take(2000))
    assert(!overBound.contains("CartesianProduct") &&
      !overBound.contains("BroadcastNestedLoopJoin"),
      s"the Spark route must stay bucket-joined:\n${overBound.take(2000)}")
    // q_ann_neighbors ADDS the exact all-pairs audit side (test scale
    // only, Queries.annAudit doc) — exactly one BNL, nothing else
    val audit = plan(Queries.all("q_ann_neighbors")(spark, sf))
    assert(!audit.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(audit).size == 1,
      s"audit query must carry exactly ONE exact-side join:\n" +
        audit.take(2000))
  }

  test("classifier scoring broadcasts the weight table") {
    val p = plan(Queries.all("q_classifier_score")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "weight table fell off the broadcast path — the exploded token " +
        "relation would shuffle against a 64-row table")
    assert(!p.contains("SortMergeJoin"), "weight join became a full shuffle")
  }

  test("rechunk shuffles only the coord relation through ONE range " +
      "exchange") {
    // the whole 100 TB story of rechunk: payload bytes move as
    // object-store reads on destination tasks, so the PLAN must contain
    // exactly one exchange — rangepartitioning on the destination's
    // linear index (locality for the decoded-source LRU) — and no hash
    // shuffle, join, or extra sort that would re-tax the coordinate
    // relation
    import graft.repo._
    import graft.storage.Store
    val dir = tmpDir("plans-rechunk")
    val repo = Repository.create(Store.local(dir), spark)
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(64), Seq(8))
    for (c <- 0 until 8)
      s.writeChunk("/a", Seq(c), graft.functions.ChunkCodec.encodeLongs(
        Array.fill(8)(c.toLong), "int64"))
    s.commit("init")
    val frags = graft.tensor.TensorPlane.rechunkFragments(
      repo.writableSession("main"), "/a", Seq(16))
    val p = frags.queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one range exchange:\n${p.take(3000)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle in the rechunk plan:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"),
      s"rechunk fragments must not plan a join:\n${p.take(3000)}")
  }
}
