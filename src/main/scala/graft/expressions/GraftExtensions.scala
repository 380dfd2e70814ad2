package graft.expressions

import graft.operators.Layout
import org.apache.spark.sql.{AnalysisException, Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge

/** SparkSessionExtensions injector exposing the engine's kernels and
  * aggregates to SQL:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)
  *     ...
  *   spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * Builders validate arity and literal parameters up front and raise
  * [[AnalysisException]]s under Spark's own error classes
  * (WRONG_NUM_ARGS / NON_FOLDABLE_ARGUMENT / UNEXPECTED_INPUT_TYPE), so
  * `simhash_md5(text)` or `word_shingles(text, 2.5)` fails analysis
  * with the expected signature instead of an IndexOutOfBounds /
  * NumberFormat exception from inside the builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    // a kernel's (or aggregate's) SQL builder returns the node its
    // Column builder makes, so SQL and the operators run the same call
    def kernel(name: String, arity: Int, owner: AnyRef)(
        build: Args => Column): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(owner.getClass.getName.stripSuffix("$"), name),
        (children: Seq[Expression]) => {
          checkArity(name, arity, children)
          Bridge.expression(build(new Args(name, children)))
        }))
    kernel("cosine_similarity", 2, CosineSimilarity)(a =>
      CosineSimilarity(a.col(0), a.col(1)))
    kernel("dot_product", 2, DotProduct)(a => DotProduct(a.col(0), a.col(1)))
    kernel("simhash64", 1, SimHash64)(a => SimHash64(a.col(0)))
    kernel("simhash_md5", 2, SimHashMd5)(a =>
      SimHashMd5(a.col(0), a.int(1, "bits")))
    kernel("word_shingles", 2, WordShingles)(a =>
      WordShingles(a.col(0), a.int(1, "n")))
    kernel("minhash_sig", 3, MinHashSig)(a =>
      MinHashSig(a.col(0), a.int(1, "k"), a.int(2, "shingleN")))
    kernel("nfc_normalize", 1, NfcNormalize)(a => NfcNormalize(a.col(0)))
    kernel("int8_quantize", 1, Int8Quantize)(a => Int8Quantize(a.col(0)))
    kernel("int8_cosine", 2, Int8Cosine)(a =>
      Int8Cosine(a.col(0), a.col(1)))
    kernel("z_value", 3, Layout) { a =>
      val bits = a.int(2, "bits")
      if (bits < 1 || bits > 31)
        throw new AnalysisException(
          errorClass = "UNEXPECTED_INPUT_TYPE",
          messageParameters = Map(
            "paramIndex" -> "3",
            "functionName" -> "`z_value`",
            "requiredType" -> "\"INT in [1, 31]\"",
            "inputSql" -> s"\"$bits\"",
            "inputType" -> "\"INT\""))
      Layout.zValue2(a.col(0), a.col(1), bits)
    }
    // one aggregate for a bigint or a string id; `top_k_by_score_str`
    // is its older string-id name
    Seq("top_k_by_score", "top_k_by_score_str").foreach { name =>
      kernel(name, 3, TopKByScore)(a =>
        TopKByScore(a.col(0), a.col(1), a.int(2, "k")))
    }
  }
}

object GraftExtensions {

  /** A SQL call's resolved children, read as kernel-builder arguments. */
  private final class Args(name: String, children: Seq[Expression]) {
    def col(i: Int): Column = Bridge.column(children(i))
    def int(i: Int, param: String): Int = intLit(name, param, i, children)
  }

  private def checkArity(name: String, n: Int,
                         children: Seq[Expression]): Unit =
    if (children.length != n)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> n.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** Extract a required literal-int parameter; any integral literal
    * that fits an Int is accepted (SQL `8` parses as INT, but a BIGINT
    * or parameterized literal should work too).
    */
  private def intLit(name: String, param: String, idx: Int,
                     children: Seq[Expression]): Int =
    children(idx) match {
      case Literal(v: Int, _)                    => v
      case Literal(v: Short, _)                  => v.toInt
      case Literal(v: Byte, _)                   => v.toInt
      case Literal(v: Long, _) if v.isValidInt   => v.toInt
      case l: Literal =>
        throw new AnalysisException(
          errorClass = "UNEXPECTED_INPUT_TYPE",
          messageParameters = Map(
            "paramIndex" -> (idx + 1).toString,
            "functionName" -> s"`$name`",
            "requiredType" -> "\"INT\"",
            "inputSql" -> s"\"${l.sql}\"",
            "inputType" -> s"\"${l.dataType.sql}\""))
      case _ =>
        throw new AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map(
            "funcName" -> s"`$name`",
            "paramName" -> s"`$param`",
            "paramType" -> "\"INT\""))
    }
}
