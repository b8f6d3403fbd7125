package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Every native expression gives the same bytes interpreted and
  * codegen'd. The driver-side fold of resident plans ([[LocalTopK]])
  * evaluates them interpreted where a Spark scan runs them generated,
  * so the two must agree bit for bit — on NULL arrays and NULL
  * elements, on length mismatches and short codes, with ANSI mode on
  * and off (an error must be the same error). */
class InterpretedCodegenSpec extends SparkSpec {

  private def floats(xs: java.lang.Float*) = new GenericArrayData(xs.toArray[Any])
  private def doubles(xs: Double*) = new GenericArrayData(xs.toArray[Any])
  private def longs(xs: java.lang.Long*) = new GenericArrayData(xs.toArray[Any])
  private def ints(xs: Int*) = new GenericArrayData(xs.toArray[Any])
  private def strs(xs: String*) =
    new GenericArrayData(xs.map(s => if (s == null) null
      else UTF8String.fromString(s)).toArray[Any])
  private def str(s: String) = UTF8String.fromString(s)

  private val vf = ArrayType(FloatType)
  private val vd = ArrayType(DoubleType)
  private val vl = ArrayType(LongType)

  // the vector inputs every vector function is tried on: a plain vector,
  // a NULL array, a NULL element, a shorter vector, an empty one
  private val vecs: Seq[GenericArrayData] = Seq(
    floats(0.5f, -1.25f, 3f, 0.125f), null, floats(1f, null, 2f, 0f),
    floats(1f, 2f, 3f), floats())
  private val other = floats(0.25f, 2f, -1f, 4f)
  // 2 planes / a 4-dim SQ8 grid (4 mins then 4 scales)
  private val params = doubles(0.1, -0.2, 0.3, 0.05, 0.01, 0.02, 0.03, 0.04)
  // JL: 2 projected bits over 4 dims, (dim + 1) longs per bit
  private val jl = longs(3L, -5L, 7L, 1L, 2L, -4L, 6L, -8L, 9L, 0L)

  /** (argument types, rows of argument values, constant arguments
    * appended after the row arguments) per function */
  private case class Case(types: Seq[DataType], rows: Seq[Seq[Any]],
      consts: Seq[Literal] = Nil)

  private val text = Seq(
    str("The cat sat on the mat.\n- a bullet line\nwait...\nrepeat repeat"),
    null, str(""), str("  spaced   out  words  "))

  private val cases: Map[String, Case] = Map(
    "graft_l2sq" -> Case(Seq(vf, vf),
      vecs.flatMap(v => Seq(Seq(v, other), Seq(other, v)))),
    "graft_dot" -> Case(Seq(vf, vf),
      vecs.flatMap(v => Seq(Seq(v, other), Seq(other, v)))),
    "graft_cos" -> Case(Seq(vf, vf),
      vecs.flatMap(v => Seq(Seq(v, other), Seq(other, v))) :+
        Seq(floats(0f, 0f, 0f, 0f), other)),
    "graft_jl_l2sq" -> Case(Seq(vf, vl),
      vecs.map(v => Seq(v, jl)) :+ Seq(other, longs(1L, 2L, 3L)) :+
        Seq(other, null) :+ Seq(other, longs(3L, null, 7L, 1L, 2L))),
    "graft_hyperplane_bucket" -> Case(Seq(vf, vd),
      vecs.map(v => Seq(v, params)) :+ Seq(other, doubles(1.0, 2.0, 3.0))),
    "graft_sq8_encode" -> Case(Seq(vf, vd),
      vecs.map(v => Seq(v, params)) :+ Seq(other, doubles(0.0, 1.0))),
    "graft_sq8_l2sq" -> Case(Seq(BinaryType, vf, vd),
      vecs.map(v => Seq(Array[Byte](1, -2, 127, 0), v, params)) ++ Seq(
        Seq(Array[Byte](1, 2), other, params),   // short code
        Seq(Array[Byte](), other, params),
        Seq(null, other, params),
        Seq(Array[Byte](1, 2, 3, 4), other, doubles(0.1, 0.2)))),
    "graft_hamming" -> Case(Seq(vl, vl), Seq(
      Seq(longs(5L, -1L, 9L), longs(3L, 7L)),
      Seq(longs(5L), longs(3L, 7L)),              // short code
      Seq(longs(5L, null), longs(3L, 7L)),
      Seq(null, longs(3L)),
      Seq(longs(5L, 6L), longs(null, 7L)),
      Seq(longs(), longs()))),
    "graft_char_jac" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(str("the mat")), Literal(3))),
    "graft_simhash" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(16))),
    "graft_rollhash" -> Case(Seq(StringType), text.map(Seq(_))),
    "graft_rep_stats" -> Case(Seq(StringType), text.map(Seq(_))),
    "graft_tok_stats" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(str("the,on,a")))),
    "graft_word_shingles" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(2))),
    "graft_word_spans" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(2))),
    "graft_gopher_stats" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(str("the on a and")))),
    "graft_minhash" -> Case(Seq(ArrayType(StringType)), Seq(
      Seq(strs("a", "b", "c")), Seq(null), Seq(strs()),
      Seq(strs("a", null))), Seq(Literal(4))),
    "graft_query_overlap" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(str("cat:1.5,mat:0.25")))),
    "graft_marker_counts" -> Case(Seq(StringType), text.map(Seq(_)),
      Seq(Literal(str("p:cat|mat,q:repeat")))),
    "graft_morton" -> Case(Seq(LongType, LongType), Seq(
      Seq(3L, 5L), Seq(-1L, 1L << 40), Seq(null, 2L), Seq(7L, null))),
    "graft_drop_covered" -> Case(
      Seq(ArrayType(StringType), ArrayType(IntegerType)), Seq(
        Seq(strs("a", "b", "c", "d"), ints(0, 2)),
        Seq(strs("a", "b"), ints(1, 5)),
        Seq(null, ints(0)),
        Seq(strs("a"), null)), Seq(Literal(2))))

  /** the value of `e` on `row`, or the error it raised */
  private def outcome(f: InternalRow => UnsafeRow,
      row: InternalRow): Either[String, UnsafeRow] =
    try Right(f(row).copy())
    catch { case t: Throwable =>
      Left(s"${t.getClass.getName}: ${t.getMessage}")
    }

  test("every VectorExpressions function gives identical bytes interpreted and codegen'd, ANSI on and off") {
    assert(VectorExpressions.functions.map(_._1).toSet == cases.keySet,
      "every registered function needs a case here")
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      for ((name, builder) <- VectorExpressions.functions) {
        val c = cases(name)
        // built under the session conf, as a query would build it
        val e: Expression = builder(c.types.zipWithIndex.map { case (t, i) =>
          BoundReference(i, t, nullable = true)
        } ++ c.consts)
        val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
        val generated = GenerateUnsafeProjection.generate(Seq(e))
        for (args <- c.rows) {
          val row = InternalRow.fromSeq(args)
          val (a, b) = (outcome(interpreted(_), row), outcome(generated(_), row))
          assert(a == b, s"$name (ansi=$ansi) on $args: interpreted $a, " +
            s"codegen $b")
        }
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }
}
