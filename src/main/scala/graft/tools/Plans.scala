package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Regenerates PLANS.md: formatted physical plans of the headline queries
  * with the scale-relevant properties called out. Run after changing any
  * query: `sbt "runMain graft.tools.Plans"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session(4, "ERROR",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val d = "/root/testdata/sf0.001"

    def fmt(df: DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))

    // the final adaptive plan, which shows the row/columnar transitions
    // (adaptive execution inserts them only when the query runs)
    def ran(df: DataFrame): String = { df.collect(); fmt(df) }

    def condense(plan: String, keep: Int = 40): String =
      plan.split("\n").take(keep).mkString("\n")

    // tiny repo: the engine-side plans (DSv2 columnar values scans)
    val values = {
      val dir = Files.createTempDirectory("plans-repo").toString
      val repo = graft.repo.Repository.create(
        graft.storage.Store.local(dir), spark)
      val s = repo.writableSession("main")
      s.addArray("/cube", Seq(8, 8), Seq(2, 2))
      val df0 = spark.range(64).selectExpr("id div 8 as i0", "id % 8 as i1",
        "id as value")
      graft.tensor.TensorPlane.writeValues(s, "/cube", df0, "int64")
      s.commit("cube")
      spark.read.format("graft-v2")
        .option("path", dir).option("array", "/cube")
        .option("mode", "values").option("dtype", "int64").load()
    }

    val sections = Seq(
      ("entry — star-schema rollup",
        "All four dimensions broadcast onto the lineitem fact (no shuffle " +
          "until the final aggregate); scan reads 3 of 11 lineitem columns.",
        fmt(graft.SparkEntry.entry(spark))),
      ("q_filter_pushdown — predicate pushdown",
        "Every predicate reaches the Parquet scan (`PushedFilters`); " +
          "projection pruned to 5 columns (`ReadSchema`).",
        fmt(graft.Queries.q_filter_pushdown(spark, d))),
      ("q1_agg — partial aggregation",
        "HashAggregate appears twice: map-side partials before the " +
          "exchange, final after — shuffle carries 6 groups, not 6k rows.",
        fmt(graft.Queries.q1_agg(spark, d))),
      ("q_changeset_merge — the flush merge shape",
        "Left-anti + union + aggregate: the changeset-over-snapshot merge " +
          "every commit runs (session.rs:2587-2635 analog).",
        fmt(graft.Queries.q_changeset_merge(spark, d))),
      ("q_dedup_ngram_jaccard — sparse posting join",
        "Work scales with posting lists (explode → equi-join → count), " +
          "never the O(n²) dense pair space.",
        fmt(graft.Queries.q_dedup_ngram_jaccard(spark, d))),
      ("q_similarity_topk — codegen'd kernel + TakeOrdered",
        "DotProductExpr participates in whole-stage codegen; the top-k is " +
          "TakeOrderedAndProject (no global sort shuffle).",
        fmt(graft.Queries.q_similarity_topk(spark, d))),
      ("q_embedding_neardups — block-matrix similarity join",
        "No row-pair cross join: vectors group into blocks, block PAIRS " +
          "join as single rows, and CosinePairsExpr evaluates each BxB " +
          "tile in one native kernel call (explode emits only qualifying " +
          "pairs).",
        fmt(graft.Queries.q_embedding_neardups(spark, d))),
      ("graft-v2 values slice — vectorized scan with all-dim pushdown",
        "BatchScan description carries the pushed element bounds (splits " +
          "outside them are never planned; in-chunk decode is bounded " +
          "too); ColumnarToRow above the scan marks the vectorized " +
          "reader feeding whole-stage codegen (a sum of a cast is an " +
          "aggregate the scan does not push).",
        ran(values.filter(col("i0") >= 2 && col("i0") <= 3)
          .agg(sum(col("value").cast("double"))))),
      ("graft-v2 values scan — graft.Bench engine_v2_columnar_scan",
        "The bench entry's query: ColumnarToRow above the scan and no " +
          "PushedAggregates, so it times the columnar values reader.",
        ran(values.agg(sum(col("value").cast("double")), count(lit(1))))),
      ("q_dedup_ngram_lsh — LSH blocking + containment audit",
        "The production path is the bucket join (minhash bands → " +
          "equi-join); the verify threshold is the single-reference form " +
          "c·(1+t) ≥ t·(|A|+|B|), so the filter pushed into the join " +
          "evaluates size(array_intersect) ONCE per candidate (a " +
          "jaccard-form filter re-expands the staged alias and doubles " +
          "it — PlanCheckSpec guards this); the exact all-pairs side " +
          "exists only to audit recall at test scale.",
        fmt(graft.Queries.q_dedup_ngram_lsh(spark, d))),
      ("q_sample_split — deterministic hash split",
        "The split assignment is a pure projection over the scan (no " +
          "shuffle, no RNG state): the only exchange is the final " +
          "per-(lang,split) aggregate.",
        fmt(graft.Queries.q_sample_split(spark, d))),
      ("q_asof_join — union + window, no join operator",
        "The as-of join never plans a join at all: both sides union into " +
          "one relation and ONE window pass per key carries the latest " +
          "right payload forward — a hash exchange + sort, linear in the " +
          "data, no range-join pair blowup.",
        fmt(graft.Queries.q_asof_join(spark, d))),
      ("q_tfidf_keywords — token-keyed joins + per-doc top-k",
        "tf and df aggregate map-side-combined; the df relation joins " +
          "back by HASH on the token (the corpus-size singleton is a " +
          "bounded driver count — a crossJoin would plan the " +
          "BroadcastNestedLoopJoin the plan guard bans); the top-k is " +
          "WindowGroupLimit before the full window, so per-doc ranking " +
          "never materializes the whole scored relation.",
        fmt(graft.Queries.q_tfidf_keywords(spark, d))),
      ("q_curation — single-scan keep/drop cascade",
        "The whole five-rule cascade (token stats, langid argmax, " +
          "distinct ratio, quality score, reason CASE) is ONE projection " +
          "over the scan inside one WholeStageCodegen span — zero " +
          "shuffles except the output sort; this is the 100 TB shape of " +
          "a corpus filter pass.",
        fmt(graft.Queries.q_curation(spark, d))),
      ("q_bm25 — two streaming passes + one broadcast row",
        "Per-term tf columns are pure projections over the scan; the " +
          "corpus statistics reduce to ONE row that broadcasts back " +
          "(BroadcastNestedLoopJoin over a singleton is a broadcast, not " +
          "a pair blowup); the top-k is TakeOrderedAndProject.",
        fmt(graft.Queries.q_bm25(spark, d))),
      ("q_substring_spans — shingle-keyed shuffles only",
        "Duplicated-substring detection shuffles on the SHINGLE (groupBy " +
          "+ posting join back), then one per-document window merges runs " +
          "— work scales with corpus chars/stride, never the pair space.",
        fmt(graft.Queries.q_substring_spans(spark, d))), {
        val dir = Files.createTempDirectory("plans-cf").toString
        val repo = graft.repo.Repository.create(
          graft.storage.Store.local(dir), spark)
        val s = repo.writableSession("main")
        s.addArray("/a", Seq(4), Seq(1))
        s.writeChunk("/a", Seq(0), Array[Byte](1))
        s.commit("c1")
        val cf = spark.read.format("graft-changes").option("path", dir)
          .load().groupBy("message").count()
        ("graft-changes — commit-log change feed",
          "One InputPartition per commit; executors read that commit's " +
            "tx-log Parquet directly. The same scan serves readStream " +
            "micro-batches with ancestry-depth offsets.",
          fmt(cf))
      }, {
        val dir = Files.createTempDirectory("plans-rch").toString
        val repo = graft.repo.Repository.create(
          graft.storage.Store.local(dir), spark)
        val s = repo.writableSession("main")
        s.addArray("/a", Seq(64), Seq(8))
        for (c <- 0 until 8)
          s.writeChunk("/a", Seq(c),
            graft.functions.ChunkCodec.encodeLongs(
              Array.fill(8)(c.toLong), "int64"))
        s.commit("init")
        ("rechunk — the (src,dst) fragment relation",
          "The ONLY thing the regrid job shuffles: coordinate pairs + " +
            "ref metadata through ONE rangepartitioning exchange on the " +
            "destination's linear index (locality for the decoded-source " +
            "LRU). Payload bytes move as object-store reads on the " +
            "destination tasks — never through this exchange. " +
            "PlanCheckSpec pins the shape.",
          fmt(graft.tensor.TensorPlane.rechunkFragments(
            repo.writableSession("main"), "/a", Seq(16))))
      },
      ("q_classifier_score — hashed-feature scoring",
        "The learned-filter scoring plan: tokens explode into md5 " +
          "feature indexes, the dim-row weight table joins via " +
          "BroadcastHashJoin (never a shuffle of the corpus against a " +
          "64-row table), and ONE hash aggregation keyed on the document " +
          "reassembles scores — whole-stage codegen throughout, no UDF.",
        fmt(graft.Queries.all("q_classifier_score")(spark, d))))

    val md = new StringBuilder
    md.append("# PLANS — physical plans of the headline queries\n\n")
    md.append("Generated by `runMain graft.tools.Plans` at sf0.001. What to\n")
    md.append("look for in each plan is noted per section; regenerate after\n")
    md.append("changing a query.\n")
    sections.foreach { case (title, note, plan) =>
      md.append(s"\n## $title\n\n$note\n\n```\n${condense(plan)}\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println(s"[plans] wrote PLANS.md (${sections.size} sections)")
    spark.stop()
  }
}
