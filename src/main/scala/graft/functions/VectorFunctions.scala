package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns.
  *
  * Everything is built from higher-order functions (`zip_with`,
  * `aggregate`) which fold left-to-right in element order — the result is
  * therefore bit-deterministic and reproducible by a DuckDB
  * `list_reduce(list_transform(...))` with the same fold order. That is
  * what lets ANN / near-dup results hash-match the oracle despite floating
  * point.
  *
  * All arithmetic is promoted to double before accumulation (float32
  * inputs, float64 math — both engines agree on IEEE-754 semantics).
  */
object VectorFunctions {

  /** Sequential-fold dot product of two float-array columns (double).
    *
    * Resolves to the native codegen'd [[graft.plans.VecDot]] expression
    * (injected by [[graft.plans.GraftExtensions]] — sessions built via
    * `GraftSession` have it). On a session built WITHOUT the extensions
    * it falls back to the bit-identical [[dotFold]] builtin form instead
    * of failing analysis — slower (interpreted per element), never wrong.
    * The check runs once per Column CONSTRUCTION (plan build), not per
    * row. */
  def dot(a: Column, b: Column): Column =
    if (vecDotRegistered) call_function("vec_dot", a, b) else dotFold(a, b)

  private def vecDotRegistered: Boolean =
    SparkSession.getActiveSession.exists { s =>
      try s.catalog.functionExists("vec_dot")
      catch { case _: Exception => false }
    }

  /** Reference formulation of [[dot]] built only from Spark builtins —
    * kept as the oracle-documentation form (DuckDB mirrors this fold
    * verbatim) and for sessions without the graft extensions. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Squared L2 norm (double, sequential fold). */
  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity; 0.0 for zero-norm inputs. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = sqrt(norm2(a))
    val nb = sqrt(norm2(b))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Sign-bit LSH key: for each seed hyperplane (given as a literal matrix
    * of doubles), emit 1 if dot(v, plane) >= 0 — concatenated to a bit
    * string usable as an ANN bucket id. Deterministic, oracle-portable. */
  def signBits(v: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.map { p =>
      val planeCol = array(p.map(lit): _*)
      when(dot(v, planeCol) >= 0.0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }
}
