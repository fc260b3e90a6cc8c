package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-tier dataset generator for the soak harness (round-12 VERDICT #1).
  *
  * Replicates the driver's sf0.1 tables by an integer factor into a new
  * directory, remapping every join key by a per-replica offset so that the
  * scaled corpus behaves like MORE data, not COPIED data:
  *
  *   - int64 join keys get `+ replica * 1e9` (far above any real key), so
  *     per-key group sizes and join fan-outs stay constant and total work
  *     scales linearly — the property the soak is trying to measure.
  *   - `documents.text` is letter-rotated per replica (a Caesar shift over
  *     [a-z]): duplicate/near-duplicate structure WITHIN a replica is
  *     preserved exactly (identical texts stay identical, shingle overlaps
  *     are isomorphic), while texts are unrelated ACROSS replicas — naive
  *     10× copying would put 10 identical copies in every MinHash/LSH
  *     bucket and inflate candidate pairs ~100× for 10× data, which is a
  *     different (quadratic) workload, not a scale-up of this one.
  *   - `embeddings.embedding` is cyclically shifted per replica: norms and
  *     coordinate distributions are preserved, cross-replica cosines are
  *     decorrelated, so IVF/LSH cell occupancy grows linearly.
  *   - dimension tables with enum semantics (region, nation) are copied
  *     verbatim; customer/part/supplier scale with remapped keys.
  *
  * Usage: runMain graft.tools.ScaleData [srcDir] [dstDir] [factor]
  * Defaults: /root/testdata/sf0.1 -> target/scale/sf1, factor 10.
  */
object ScaleData {
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/scale/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSpark.session(cpus.toInt, "WARN")
    scale(spark, src, dst, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, dst: String,
            factor: Int): Unit = {
    require(factor >= 1 && factor <= 64,
      s"factor must be in [1, 64] (embedding shift wraps at 64): $factor")
    // the replica spine: crossJoin(broadcast) fans each row out `factor`
    // times executor-side — no driver materialization, no shuffle
    val reps = broadcast(
      spark.range(factor).select(col("id").as("_r")))
    val Off = 1000000000L // above every real key in the sf tables

    def rk(c: String) = (col(c) + col("_r") * Off).as(c)

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scale] $name x$factor -> $dst/$name.parquet")
    }

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // verbatim dims (enum semantics — scaling them would change the
    // queries, not the scale)
    write("region", read("region"), 1)
    write("nation", read("nation"), 1)

    write("customer", read("customer").crossJoin(reps)
      .select(rk("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")), 4)
    write("supplier", read("supplier").crossJoin(reps)
      .select(rk("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal")), 1)
    write("part", read("part").crossJoin(reps)
      .select(rk("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice")), 4)
    write("orders", read("orders").crossJoin(reps)
      .select(rk("o_orderkey"), rk("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")), 8)
    write("lineitem", read("lineitem").crossJoin(reps)
      .select(rk("l_orderkey"), rk("l_partkey"), rk("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")), 16)
    write("events", read("events").crossJoin(reps)
      .select(rk("event_id"), col("ts"), rk("user_id"), col("event_type"),
        col("value"), col("props")), 8)

    // per-replica Caesar shift over [a-z]; replica 0 is the original text
    val cipher = (1 until factor).foldLeft(col("text")) { (acc, r) =>
      val rot = Alpha.drop(r % 26) + Alpha.take(r % 26)
      when(col("_r") === r, translate(col("text"), Alpha, rot))
        .otherwise(acc)
    }
    write("documents", read("documents").crossJoin(reps)
      .select(rk("doc_id"), cipher.as("text"), col("lang"), col("source"),
        col("n_chars")), 8)

    // per-replica cyclic shift of the 64-dim vector (factor <= 64 so no
    // two replicas share a shift)
    val dim = lit(64)
    val shift = (col("_r") % 64).cast("int")
    val emb = when(shift === 0, col("embedding")).otherwise(concat(
      slice(col("embedding"), shift + 1, dim - shift),
      slice(col("embedding"), lit(1), shift)))
    write("embeddings", read("embeddings").crossJoin(reps)
      .select(rk("vec_id"), emb.as("embedding"), col("label")), 8)
  }
}
