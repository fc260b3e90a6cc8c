package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface registration of the native kernels via
  * SparkSessionExtensions (own session — extensions bind at build time).
  */
class ExtensionsSpec extends AnyFunSuite {
  test("dot_product / simhash64 / decode_chunk callable from SQL") {
    // shared test session (extensions bind at build time; registerAll
    // covers the already-running-session path — same function builders)
    val spark = SparkTestBase.spark
    graft.functions.GraftExtensions.registerAll(spark)
    try {
      val dot = spark.sql(
        "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d))")
        .head().getDouble(0)
      assert(dot == 32.0)
      val sh = spark.sql(
        "SELECT simhash64(array(1L, 2L, 3L)) = simhash64(array(3L, 2L, 1L))")
        .head().getBoolean(0)
      assert(sh) // order-independent
      val bytes = graft.functions.ChunkCodec.encodeLongs(
        Array(7L, 8L, 9L), "int64")
      spark.createDataFrame(Seq(Tuple1(bytes))).toDF("b")
        .createOrReplaceTempView("chunks")
      val decoded = spark.sql(
        "SELECT decode_chunk(b, 'int64') FROM chunks")
        .head().getSeq[Long](0)
      assert(decoded == Seq(7L, 8L, 9L))
      val stats = spark.sql(
        "SELECT chunk_stats(b, 'int64').sum FROM chunks").head().getDouble(0)
      assert(stats == 24.0)
      // cosine_sim: parallel vectors -> 1.0 (dot kernel + catalyst math)
      val cos = spark.sql(
        "SELECT cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d))")
        .head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      // word_shingles: default n=3 over a 4-token string -> 2 shingles
      val sh3 = spark.sql(
        "SELECT word_shingles('a b c d')").head().getSeq[String](0)
      assert(sh3 == Seq("a b c", "b c d"))
      // char_shingles: k=4 positions over 6 chars -> 3 (pos, sub) rows
      val cs = spark.sql(
        "SELECT size(char_shingles('abcdef', 4))").head().getInt(0)
      assert(cs == 3)
    } finally ()
  }

  test("cosine_sim: a zero norm gives null, as try_divide does, not an error") {
    val spark = SparkTestBase.spark
    graft.functions.GraftExtensions.registerAll(spark)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // the rule's zero test is try_divide's for doubles: ±0.0 gives null
    val row = spark.sql("SELECT try_divide(0d, 0d), try_divide(1d, -0d), " +
      "try_divide(1d, 2d), cosine_sim(array(0d, 0d), array(1d, 2d)), " +
      "cosine_sim(array(1d, 2d), array(0d, 0d)), " +
      "cosine_sim(array(0d, 0d), array(0d, 0d)), " +
      "cosine_sim(array(cast('NaN' as double), 1d), array(1d, 2d))").head()
    assert(row.isNullAt(0) && row.isNullAt(1) && row.getDouble(2) == 0.5)
    assert(row.isNullAt(3) && row.isNullAt(4) && row.isNullAt(5))
    assert(row.getDouble(6).isNaN)
    // over a table, so the generated code takes the same zero test
    spark.sql("SELECT * FROM VALUES (array(0d, 0d)), (array(3d, 4d)) AS " +
      "t(v)").createOrReplaceTempView("cos_vs")
    val cos = spark.sql("SELECT cosine_sim(v, array(3d, 4d)) FROM cos_vs")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(cos.toSeq == Seq(None, Some(1.0)))
  }

  test("chunk_stats and decode_chunk refuse an unknown dtype at plan time") {
    val spark = SparkTestBase.spark
    graft.functions.GraftExtensions.registerAll(spark)
    val bytes = graft.functions.ChunkCodec.encodeLongs(Array(7L), "int64")
    spark.createDataFrame(Seq(Tuple1(bytes))).toDF("b")
      .createOrReplaceTempView("chunks9")
    Seq("chunk_stats(b, 'int9')", "decode_chunk(b, 'int9')").foreach { call =>
      // analysis builds the expression: the refusal comes before any task
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM chunks9"))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("unknown dtype 'int9'")), s"$call: $e")
    }
  }
}
