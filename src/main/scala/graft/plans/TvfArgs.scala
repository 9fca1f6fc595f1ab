package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.unsafe.types.UTF8String

/** Shared literal-argument machinery for the graft table-valued
  * functions ([[AnnTopKTable]], [[CurateDHashTable]], [[DedupPairsTable]],
  * [[Bm25TopKTable]], [[FuzzyMatchTable]], ...): every argument
  * must be a foldable literal, every malformed argument fails with a
  * diagnostic naming the argument and the usage line, and numerics that
  * claim to be integers must BE integers (`2.9` never truncates to 2).
  */
private[plans] final class TvfArgs(fnName: String, usage: String) {

  def bad(what: String, got: Any): Nothing =
    throw new IllegalArgumentException(
      s"$fnName: $what, got '$got'. Usage: $usage")

  def arity(args: Seq[Expression], minLen: Int): Unit =
    if (args.length < minLen || (args.length - minLen) % 2 != 0)
      throw new IllegalArgumentException(
        s"$fnName: got ${args.length} arguments. Usage: $usage")

  def lit(e: Expression, what: String): Any = {
    if (!e.foldable) bad(s"$what must be a literal", e.sql)
    e.eval()
  }

  def str(e: Expression, what: String): String = lit(e, what) match {
    case s: UTF8String => s.toString
    case other => bad(s"$what must be a string literal", other)
  }

  /** Exactly-integral numerics only — a fractional value is a loud
    * error, never a silent truncation. */
  def long(e: Expression, what: String): Long = lit(e, what) match {
    case n: Number if n.doubleValue() == n.longValue() => n.longValue()
    case other => bad(s"$what must be an integer literal", other)
  }

  def int(e: Expression, what: String): Int = {
    val l = long(e, what)
    if (l < Int.MinValue || l > Int.MaxValue)
      bad(s"$what must fit in an INT", l)
    l.toInt
  }

  def dbl(e: Expression, what: String): Double = lit(e, what) match {
    case n: Number => n.doubleValue()
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => bad(s"$what must be a numeric literal", other)
  }

  def bool(e: Expression, what: String): Boolean = lit(e, what) match {
    case b: java.lang.Boolean => b.booleanValue()
    case other => bad(s"$what must be a boolean literal", other)
  }

  /** Fold the trailing ('name', value) option pairs after `fixedLen`
    * positional arguments through `handle` (which [[bad]]s on unknown
    * names). [[arity]] must have run first. */
  def options(args: Seq[Expression], fixedLen: Int)
             (handle: (String, Expression) => Unit): Unit =
    args.drop(fixedLen).grouped(2).foreach {
      case Seq(k, v) => handle(str(k, "option name"), v)
      case odd => throw new IllegalStateException(
        s"$fnName: internal option-pair grouping error on $odd")
    }
}
