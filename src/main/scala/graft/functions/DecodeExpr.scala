package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** A function of one binary column whose value is a static decoder's
  * result, null when the decoder returns null (malformed or out-of-profile
  * bytes). `call` names the same decoder for generated code. Serializable
  * itself: plans ship to executors, and Java serialization needs the
  * first non-serializable superclass to have a no-arg constructor. */
abstract class DecodeExpr(name: String, schema: DataType, call: String)
    extends UnaryExpression with Serializable {
  def decode(b: Array[Byte]): Any
  override def dataType: DataType = schema
  override def nullable: Boolean = true
  override def prettyName: String = name
  override def nullSafeEval(v: Any): Any = decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = $call($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
}
