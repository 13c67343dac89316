package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Guard helpers for the registered SQL function builders. Every
  * `graft_*` function is reachable from raw SQL (`SELECT graft_x(...)`),
  * where nothing constrains arity or literal-ness before the builder
  * runs — an unguarded `children(1)` turns a user typo into
  * IndexOutOfBoundsException and a NULL literal into an NPE. These
  * helpers turn both into errors that NAME the function and its
  * signature (ADVICE r15 / VERDICT r15 #3).
  */
object Builders {

  /** Arity check with a named error; returns `children` for chaining. */
  def arity(name: String, sig: String, n: Int,
            children: Seq[Expression]): Seq[Expression] = {
    require(children.length == n,
      s"$name takes exactly $n argument${if (n == 1) "" else "s"} $sig; " +
        s"got ${children.length}")
    children
  }

  /** Plan-time literal evaluation with foldable + non-NULL named errors —
    * for builders that bake an argument into the expression as a constant.
    */
  def litValue(name: String, what: String, e: Expression): Any = {
    require(e.foldable, s"$name $what must be a literal, got ${e.sql}")
    val v = e.eval(null)
    require(v != null, s"$name $what must not be NULL")
    v
  }

  /** Literal array<string> argument, decoded to Scala strings. */
  def litStrings(name: String, what: String, e: Expression): Seq[String] =
    strings(name, what, litValue(name, what, e))

  /** Literal array<array<string>> argument, decoded to nested Scala
    * strings (the multi-word-set shape of graft_lang_id).
    */
  def litStringLists(name: String, what: String,
                     e: Expression): Seq[Seq[String]] =
    litValue(name, what, e).asInstanceOf[ArrayData]
      .toObjectArray(org.apache.spark.sql.types.ArrayType(StringType))
      .map { inner =>
        require(inner != null, s"$name $what must not contain NULL sets")
        strings(name, what, inner)
      }.toSeq

  private def strings(name: String, what: String, v: Any): Seq[String] =
    v.asInstanceOf[ArrayData].toObjectArray(StringType).map { s =>
      require(s != null, s"$name $what must not contain NULL strings")
      s.asInstanceOf[UTF8String].toString
    }.toSeq
}
