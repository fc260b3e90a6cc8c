package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Sqrt}

/** Catalyst extension registering the graft expression library as SQL
  * functions, so plain `spark.sql` can use the native kernels:
  *
  * {{{
  *   spark = SparkSession.builder()
  *     .withExtensions(new GraftExtensions)...
  *   // or: .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *   spark.sql("SELECT dot_product(a.embedding, b.embedding) ...")
  *   spark.sql("SELECT decode_chunk(bytes, 'int64', 'zstd') ...")
  * }}}
  */
object GraftExtensions {
  /** Register the same functions into an already-running session (the
    * extensions path binds only at session build time).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("dot_product",
      args => DotProductExpr(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      args => SimhashExpr(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("decode_chunk",
      args => DecodeChunkExpr(args(0), litStr(args(1), "dtype"),
        if (args.size > 2) litStr(args(2), "compression") else "raw"),
      "scala_udf")
    reg.createOrReplaceTempFunction("chunk_stats",
      args => ChunkStatsExpr(args(0), litStr(args(1), "dtype"),
        if (args.size > 2) litStr(args(2), "compression") else "raw"),
      "scala_udf")
    extraBuilders.foreach { case (fname, b) =>
      reg.createOrReplaceTempFunction(fname, b, "scala_udf")
    }
  }

  private[functions] def litStr(e: Expression, what: String): String =
    e match {
      case Literal(s, org.apache.spark.sql.types.StringType) => s.toString
      case _ => throw new IllegalArgumentException(
        s"$what must be a string literal")
    }

  private[functions] def litInt(e: Expression, what: String): Int =
    e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case _ => throw new IllegalArgumentException(
        s"$what must be an integer literal")
    }

  private[functions] val extraBuilders
      : Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (args => Cosine(DotProductExpr(args(0), args(1)),
      Sqrt(DotProductExpr(args(0), args(0))),
      Sqrt(DotProductExpr(args(1), args(1))))),
    "word_shingles" -> (args => WordShinglesExpr(args(0),
      if (args.size > 1) litInt(args(1), "n") else 3)),
    "char_shingles" -> (args => CharShinglesExpr(args(0),
      litInt(args(1), "k"),
      if (args.size > 2) litInt(args(2), "stride") else 1,
      hashed = false)))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (args: Seq[Expression]) => DotProductExpr(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "simhash64"),
      (args: Seq[Expression]) => SimhashExpr(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("decode_chunk"),
      new ExpressionInfo(classOf[DecodeChunkExpr].getName, "decode_chunk"),
      (args: Seq[Expression]) => DecodeChunkExpr(args(0),
        GraftExtensions.litStr(args(1), "dtype"),
        if (args.size > 2) GraftExtensions.litStr(args(2), "compression") else "raw")))
    ext.injectFunction((
      new FunctionIdentifier("chunk_stats"),
      new ExpressionInfo(classOf[ChunkStatsExpr].getName, "chunk_stats"),
      (args: Seq[Expression]) => ChunkStatsExpr(args(0),
        GraftExtensions.litStr(args(1), "dtype"),
        if (args.size > 2) GraftExtensions.litStr(args(2), "compression") else "raw")))
    GraftExtensions.extraBuilders.foreach { case (fname, b) =>
      ext.injectFunction((new FunctionIdentifier(fname),
        new ExpressionInfo(classOf[DotProductExpr].getName, fname),
        (args: Seq[Expression]) => b(args)))
    }
  }
}
