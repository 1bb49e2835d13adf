package graft

import graft.functions.Native
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.NativeCall
import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}

/** SparkSessionExtensions entry point — registers the engine's native
  * expressions as SQL functions so any session (including plain
  * `spark-submit --conf spark.sql.extensions=graft.GraftExtensions` or a
  * Thrift/Connect gateway) can call them from SQL:
  *
  * {{{
  *   SELECT doc_id, qclean(text), lang_detect(text), simhash64(text)
  *   FROM documents
  *   WHERE sim_ratio(a, b) > 0.9
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    for (name <- GraftExtensions.SqlFunctions) {
      val spec = Native.table(name)
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[NativeCall].getName, name),
        (args: Seq[Expression]) =>
          // a wrong argument count is reported by NativeCall's type check
          if (args.length != spec.argTypes.length) Native.call(name, args)
          else {
            val (data, consts) = args.splitAt(args.length - spec.params.length)
            Native.call(name, data ++ spec.params.zip(consts).map {
              case (p, c) => GraftExtensions.intParam(name, p, c)
            })
          }))
    }
}

object GraftExtensions {
  /** The `Native` functions callable from SQL. */
  val SqlFunctions: Seq[String] = Seq("qclean", "lang_detect", "simhash64", "sim_ratio",
    "dot_f", "minhash_sigs", "shingle_set", "sorted_intersect_count")

  /** A constant parameter (e.g. `numPerms`) must be a foldable integer — a
    * clean analysis error beats the opaque ClassCastException a bare
    * eval().asInstanceOf would throw on a column reference / BIGINT /
    * string argument. A function builder runs BEFORE ConstantFolding, so `2+2` or
    * `CAST(4 AS INT)` arrive as foldable non-Literals — evaluate them
    * rather than rejecting working SQL. */
  private def intParam(function: String, param: String, arg: Expression): Expression = {
    val integral = Set[Any](IntegerType, ShortType, ByteType)
    // eval() of a foldable can itself throw under ANSI (e.g.
    // CAST('abc' AS INT)) — keep the clean analysis error
    val value = if (arg.foldable && integral(arg.dataType)) {
      try Option(arg.eval()) catch { case _: Exception => None }
    } else None
    value match {
      case Some(v: Int) => Literal(v)
      case Some(v: Short) => Literal(v.toInt)
      case Some(v: Byte) => Literal(v.toInt)
      case _ => throw new AnalysisException("INVALID_PARAMETER_VALUE.INTEGER",
        Map("parameter" -> param, "functionName" -> function, "invalidValue" -> arg.sql))
    }
  }
}
