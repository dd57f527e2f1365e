package graft.exprs

import graft.functions
import graft.geom.Geom
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow,
  Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Coordinate
import org.scalatest.funsuite.AnyFunSuite

/** Generated and interpreted evaluation of every spatial function agree
  * byte for byte. Each function is built through its SQL table entry over
  * bound input columns, then projected to an `UnsafeRow` once with
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (a compile failure fails
  * the test) and once with `NO_CODEGEN`, on the cross product of fixed
  * argument values: valid, invalid, empty, NULL and NaN-ordinate inputs,
  * which covers both argument orders of every binary. A row either
  * projects to the same bytes in both modes or fails with the same error.
  * The cross product runs twice: with nullable input columns (the null
  * short-circuit and the null-result check) and with non-nullable ones
  * over the non-null rows (the code Spark generates for non-null input). */
class CodegenParitySpec extends AnyFunSuite {
  private def wkb(wkt: String): Array[Byte] = Geom.toWkb(Geom.fromWkt(wkt))

  /** Argument values per input type, NULL last. */
  private val values: Map[DataType, Seq[Any]] = {
    val square = wkb("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    val point = wkb("POINT (1 2)")
    Map(
      BinaryType -> Seq(
        square,
        wkb("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"),
        wkb("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))"), // bowtie: invalid
        wkb("POLYGON EMPTY"),
        point,
        wkb("LINESTRING (0 0, 3 4, 6 0)"),
        wkb("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((3 3, 5 3, 5 5, 3 3)))"),
        Geom.toWkb(Geom.factory.createPoint(new Coordinate(Double.NaN, 1))),
        Array[Byte](0, 0, 0, 0, 3), // truncated WKB
        null),
      DoubleType -> Seq(1.0, 0.25, -2.0, 0.0, Double.NaN, null),
      IntegerType -> Seq(5, 1, 0, -1, null),
      StringType -> Seq("POINT (1 2)", "LINESTRING (0 0, 3 4)", "POLYGN ((0 0", "EPSG:3857",
        "EPSG:5880", "EPSG:4326", null).map(s => if (s == null) null else UTF8String.fromString(s)),
      ArrayType(BinaryType) -> Seq(new GenericArrayData(Array[Any](square, point)),
        new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array[Any](square, null)),
        null))
  }

  /** Every SQL table entry whose expression is a spatial function, with
    * its argument types, plus the two forms only the optimizer builds. */
  private val cases: Seq[(String, Seq[DataType], Seq[Expression] => Expression)] = {
    val registered = functions.sqlFunctions.flatMap { case (name, build) =>
      (1 to 4).iterator.flatMap(n => scala.util.Try(build(Seq.fill(n)(Literal(null)))).toOption)
        .nextOption().collect { case f: StFunction => (name, f.inputTypes, build) }
    }
    registered ++ Seq[(String, Seq[DataType], Seq[Expression] => Expression)](
      ("st_envelope_bounds_rect", Seq.fill(4)(DoubleType),
        es => StEnvelopeBoundsRect(es(0), es(1), es(2), es(3))),
      ("st_envelope_bounds_point", Seq.fill(2)(DoubleType),
        es => StEnvelopeBoundsPoint(es(0), es(1))))
  }

  /** The outcome of each row: its `UnsafeRow` bytes, or the error. */
  private def project(mode: String, e: Expression, rows: Seq[InternalRow]): Seq[Either[String, Seq[Byte]]] = {
    val conf = new SQLConf
    conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, mode)
    val proj = SQLConf.withExistingConf(conf)(UnsafeProjection.create(Seq(e)))
    rows.map { r =>
      try Right(proj(r).copy().getBytes.toSeq)
      catch { case t @ (_: Exception | _: StackOverflowError) =>
        Left(s"${t.getClass.getName}: ${t.getMessage}") }
    }
  }

  private def show(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => scala.util.Try(Geom.toWkt(Geom.fromWkb(b))).getOrElse(b.mkString("[", ",", "]"))
    case a: GenericArrayData => a.array.map(show).mkString("array(", ", ", ")")
    case o => o.toString
  }

  test("the table holds the spatial functions, the optimizer forms included") {
    val names = cases.map(_._1)
    assert(names.size > 90, names)
    assert(Seq("st_geomfromwkt", "st_makeenvelope", "st_point", "st_transform", "st_intersects",
      "st_envelope_bounds_rect").forall(names.contains), names)
  }

  for ((name, types, build) <- cases) test(s"$name: generated code equals interpreted eval") {
    val grid = types.foldLeft(Seq(Seq.empty[Any]))((acc, t) => for (a <- acc; v <- values(t)) yield a :+ v)
    for (nullableInput <- Seq(true, false)) {
      val rows = grid.filter(r => nullableInput || !r.contains(null))
      val e = build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullableInput) })
      val input = rows.map(r => new GenericInternalRow(r.toArray): InternalRow)
      val generated = project("CODEGEN_ONLY", e, input)
      val interpreted = project("NO_CODEGEN", e, input)
      assert(interpreted.exists(_.isRight), s"$name fails on every row")
      val diffs = rows.indices.filter(i => generated(i) != interpreted(i))
      assert(diffs.isEmpty, diffs.take(3).map { i =>
        s"\n$name(${rows(i).map(show).mkString(", ")}) [nullable input: $nullableInput]" +
          s"\n  generated:   ${generated(i)}\n  interpreted: ${interpreted(i)}"
      }.mkString)
    }
  }
}
