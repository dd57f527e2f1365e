package graft.exprs

import graft.geom.Geom
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry

/** How a graft scalar function reads one argument: the Catalyst type
  * implicit casts target, and the conversion to the JVM type its body
  * takes. The bases find an argument's `Arg` from the body's parameter
  * type; [[Arg.Longs]] is passed explicitly, since it reads the same JVM
  * type as the implicit [[Arg.Geoms]]. */
sealed abstract class Arg[A](val dataType: DataType) extends Serializable {
  def read(v: Any): A
}
object Arg {
  /** A geometry, decoded through the per-thread decode cache. The decoded
    * object is shared across rows, so a body must not mutate it
    * ([[Geom.mapVertices]] copies first). */
  implicit object Geo extends Arg[Geometry](BinaryType) {
    def read(v: Any): Geometry = Geom.fromWkbCached(v.asInstanceOf[Array[Byte]])
  }
  /** BINARY bytes as they came: a geometry's WKB, for bodies that return
    * or quote their input, or a serialized sketch. */
  implicit object Wkb extends Arg[Array[Byte]](BinaryType) {
    def read(v: Any): Array[Byte] = v.asInstanceOf[Array[Byte]]
  }
  implicit object F64 extends Arg[Double](DoubleType) {
    def read(v: Any): Double = v.asInstanceOf[Double]
  }
  implicit object I32 extends Arg[Int](IntegerType) {
    def read(v: Any): Int = v.asInstanceOf[Int]
  }
  implicit object I64 extends Arg[Long](LongType) {
    def read(v: Any): Long = v.asInstanceOf[Long]
  }
  implicit object Text extends Arg[UTF8String](StringType) {
    def read(v: Any): UTF8String = v.asInstanceOf[UTF8String]
  }
  /** An array of geometries as WKB; a body decodes its elements. */
  implicit object Geoms extends Arg[ArrayData](ArrayType(BinaryType)) {
    def read(v: Any): ArrayData = v.asInstanceOf[ArrayData]
  }
  /** An ARRAY<BIGINT> (hash sets, sketches); not implicit, see [[Arg]]. */
  object Longs extends Arg[ArrayData](ArrayType(LongType)) {
    def read(v: Any): ArrayData = v.asInstanceOf[ArrayData]
  }
}

/** The contract every graft scalar function declares once: its SQL name
  * (the `prettyName` of plan strings and unaliased columns), its argument
  * and result types, implicit casts to the argument types, the encode of
  * a result, and its generated code. Serializable, so the bases'
  * constructor fields travel with a task (the first non-serializable
  * superclass, Spark's, then needs only its no-argument constructor). */
sealed trait StFunction extends Expression with ImplicitCastInputTypes with Serializable {
  protected def sqlName: String
  protected def args: Seq[Arg[_]]
  protected def resultType: DataType
  override def prettyName: String = sqlName
  override def inputTypes: Seq[DataType] = args.map(_.dataType)
  override def dataType: DataType = resultType

  /** A JTS result leaves as WKB; anything else (input bytes passed through,
    * numbers, strings, arrays, rows, null) leaves as it is. */
  protected final def encode(r: Any): Any = r match {
    case g: Geometry => Geom.toWkb(g)
    case _ => r
  }

  /** The body's generated code on non-null child values, for the arity
    * bases' `nullSafeCodeGen`: it calls `nullSafeEval` through a reference
    * object and unboxes the result, null where `nullable` allows it. */
  protected final def genBody(ctx: CodegenContext, ev: ExprCode, values: String*): String = {
    val self = ctx.addReferenceObj("stFunction", this)
    val result = ctx.freshName("result")
    val assign = s"${ev.value} = (${CodeGenerator.boxedType(dataType)}) $result;"
    s"""Object $result = $self.nullSafeEval(${values.mkString(", ")});
       |${if (nullable) s"if ($result == null) ${ev.isNull} = true; else $assign" else assign}
       |""".stripMargin
  }
}

/** A one-argument function; `op` runs on non-null input. */
abstract class StUnary[A](protected val sqlName: String, protected val resultType: DataType)
                         (implicit a: Arg[A])
    extends UnaryExpression with StFunction {
  protected def op(x: A): Any
  protected def args: Seq[Arg[_]] = Seq(a)
  override def nullSafeEval(v: Any): Any = encode(op(a.read(v)))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => genBody(ctx, ev, v))
}

/** A two-argument function; `op` runs on non-null input. */
abstract class StBinary[A, B](protected val sqlName: String, protected val resultType: DataType)
                             (implicit a: Arg[A], b: Arg[B])
    extends BinaryExpression with StFunction {
  protected def op(x: A, y: B): Any
  protected def args: Seq[Arg[_]] = Seq(a, b)
  override def nullSafeEval(v: Any, w: Any): Any = encode(op(a.read(v), b.read(w)))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, w) => genBody(ctx, ev, v, w))
}

/** A three-argument function; `op` runs on non-null input. */
abstract class StTernary[A, B, C](protected val sqlName: String, protected val resultType: DataType)
                                 (implicit a: Arg[A], b: Arg[B], c: Arg[C])
    extends TernaryExpression with StFunction {
  protected def op(x: A, y: B, z: C): Any
  protected def args: Seq[Arg[_]] = Seq(a, b, c)
  override def nullSafeEval(v: Any, w: Any, u: Any): Any =
    encode(op(a.read(v), b.read(w), c.read(u)))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, w, u) => genBody(ctx, ev, v, w, u))
}

/** A four-argument function; `op` runs on non-null input. */
abstract class StQuaternary[A, B, C, D](protected val sqlName: String, protected val resultType: DataType)
                                       (implicit a: Arg[A], b: Arg[B], c: Arg[C], d: Arg[D])
    extends QuaternaryExpression with StFunction {
  protected def op(w: A, x: B, y: C, z: D): Any
  protected def args: Seq[Arg[_]] = Seq(a, b, c, d)
  override def nullSafeEval(v: Any, w: Any, u: Any, t: Any): Any =
    encode(op(a.read(v), b.read(w), c.read(u), d.read(t)))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, w, u, t) => genBody(ctx, ev, v, w, u, t))
}
