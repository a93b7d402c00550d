package graft.functions

import graft.lwes.{LwesCodec, LwesEvent}
import graft.sources.lwes.LwesOptions
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for LWES payloads in binary columns
  * (SURVEY.md §2 A12) — the expression-level equivalent of the
  * reference's `EventSerDe.deserialize(BytesWritable)` path
  * (reference EventSerDe.java:177-217) and `serialize`
  * (EventSerDe.java:335-371).
  *
  * These are interpreted (CodegenFallback) by design: parsing a
  * variable-length binary format row-by-row dominates any codegen win,
  * and keeping them out of hot aggregate paths is documented in
  * SURVEY.md §4. The journal scan path (LwesColumnarBatchReader) never goes
  * through these.
  */
object LwesExpressions {

  /** `from_lwes(bin, 'id long, name string')` → struct, fields matched
    * to attributes by name, reference type-conversion rules (incl.
    * float/double-from-string). */
  case class FromLwes(child: Expression, schemaDdl: String)
      extends UnaryExpression with CodegenFallback {
    lazy val schema: StructType = StructType.fromDDL(schemaDdl)
    override def dataType: DataType = schema
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      try {
        val ev = LwesCodec.deserialize(bytes)
        val row = new Array[Any](schema.length)
        var i = 0
        while (i < schema.length) {
          val f = schema.fields(i)
          row(i) = ev.get(f.name).map(a => LwesOptions.toCatalyst(a, f.dataType)).orNull
          i += 1
        }
        InternalRow.fromSeq(row.toIndexedSeq)
      } catch { case _: Exception => null }
    }
    override protected def withNewChildInternal(c: Expression): FromLwes = copy(child = c)
  }

  /** `lwes_event_name(bin)` → event type name (peek, no full parse). */
  case class LwesEventNameExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      try UTF8String.fromString(LwesCodec.eventName(bytes, 0))
      catch { case _: Exception => null }
    }
    override protected def withNewChildInternal(c: Expression): LwesEventNameExpr =
      copy(child = c)
  }

  /** `to_lwes(struct, 'Event::Name')` → serialized event bytes; null
    * struct fields are unset attributes, float/double become strings
    * (reference EventSerDe.java:420-431). */
  case class ToLwes(child: Expression, eventName: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val row = input.asInstanceOf[InternalRow]
      val st = child.dataType.asInstanceOf[StructType]
      val ev = LwesEvent(eventName)
      var i = 0
      while (i < st.length) {
        if (!row.isNullAt(i)) {
          val dt = st.fields(i).dataType
          val v = row.get(i, dt) match {
            case u: UTF8String => u.toString
            case other => other
          }
          LwesOptions.setAttr(ev, st.fields(i).name, dt, v)
        }
        i += 1
      }
      LwesCodec.serialize(ev)
    }
    override protected def withNewChildInternal(c: Expression): ToLwes = copy(child = c)
  }

  // ------------------------------------------------------- Column API

  def from_lwes(bin: Column, schemaDdl: String): Column =
    bridge.toColumn(FromLwes(bridge.toExpression(bin), schemaDdl))

  def to_lwes(struct: Column, eventName: String): Column =
    bridge.toColumn(ToLwes(bridge.toExpression(struct), eventName))

  def lwes_event_name(bin: Column): Column =
    bridge.toColumn(LwesEventNameExpr(bridge.toExpression(bin)))

  /** SQL registration: from_lwes(bin, 'ddl'), to_lwes(struct, 'Name'),
    * lwes_event_name(bin). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def lit(e: Expression): String = e.eval(null) match {
      case u: UTF8String => u.toString
      case s: String => s
      case other => throw new IllegalArgumentException(s"expected string literal, got $other")
    }
    reg.createOrReplaceTempFunction("from_lwes",
      exprs => FromLwes(exprs.head, lit(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("to_lwes",
      exprs => ToLwes(exprs.head, lit(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("lwes_event_name",
      exprs => LwesEventNameExpr(exprs.head), "scala_udf")
  }
}
