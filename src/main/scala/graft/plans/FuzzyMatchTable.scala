package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import graft.fuzzy.{FuzzyAlgorithm, FuzzyMapping, FuzzyMatcher, MatchOptions}

/** Pure-SQL front door for the full fuzzy-join planner — the reference
  * library's headline operation (`matcher.py:661-722` is `fuzzy_match_dfs`,
  * the function a pl-fuzzy-frame-match user actually calls). The 12 scalar
  * kernels were already SQL-registered via [[graft.GraftExtensions]]; this
  * table-valued function exposes the PLANNER (preprocessing, uniqueness
  * ordering, strategy pick, multi-pass fold, final assembly) so a Thrift /
  * Spark Connect / notebook-SQL client can run the end-to-end join with no
  * Scala:
  *
  * {{{
  *   SELECT * FROM fuzzy_match(
  *     'left_view', 'right_view',
  *     'c_name', 's_name', 70.0, 'levenshtein'
  *     [, 'city', 'city', 80.0, 'jaro_winkler', ...])   -- more mappings
  * }}}
  *
  * Arguments must be foldable literals: two table/view names resolvable in
  * the session catalog, then one or more (left_col, right_col, threshold,
  * algorithm) quadruples — the same shape as the reference's
  * `list[FuzzyMapping]` — then optionally the reference front door's three
  * strategy knobs as trailing ('name', value) pairs, mirroring
  * `fuzzy_match_dfs`' keyword arguments (matcher.py:661-668):
  *
  *   'use_approx',  true|false   — force LSH / force exact (omit = auto),
  *   'top_n',       int >= 1     — top-N per record on the approx path,
  *   'cross_over',  long         — cartesian size where auto flips to LSH,
  *   'checkpoint_dir', 'path'    — fault-tolerant barriers: materialize
  *                                 multi-pass intermediates as reliable
  *                                 checkpoints under the caller-owned
  *                                 directory ([[graft.util
  *                                 .CheckpointStrategy.Reliable]]) instead
  *                                 of executor-local blocks — the
  *                                 reference front door's `temp_dir`
  *                                 (matcher.py:580-658) for SQL clients,
  *                                 and the difference between a
  *                                 restartable nightly job and one that
  *                                 recomputes on any executor loss.
  *                                 Lifecycle: files live under the given
  *                                 dir for the app lifetime unless the
  *                                 calling thread wraps the statement in
  *                                 [[graft.util.MatchScope.withMatchScope]]
  *                                 (files release on scope close) or
  *                                 simply deletes the dir after reading
  *                                 the result (the reference's context-
  *                                 manager contract).
  *
  * Quadruple-vs-option disambiguation: parsing consumes quadruples until
  * the next argument is one of the option keys. A LEFT COLUMN literally
  * named like an option key therefore cannot start a quadruple — alias
  * such a column before calling. The mix still always ERRORS rather than
  * mis-parsing silently: either the trailing remainder is odd (arity
  * rejection) or the would-be column name is consumed as an option key
  * whose value fails validation with a message explaining the
  * quadruple-vs-option ambiguity.
  * The builder resolves the names with `spark.table(...)` and returns the
  * matcher's ANALYZED logical plan, so the enclosing query composes
  * normally (projections/filters on top get optimized into the plan by
  * Catalyst like any subquery).
  *
  * Eagerness note: `matchDfs` runs its preprocessing (uniqueness stats,
  * strategy pick — a few small jobs) when called, which here means at
  * ANALYSIS time of the enclosing SQL statement. That is the same
  * eagerness a Scala caller observes; it is the operator's documented
  * contract, not a TVF quirk.
  */
object FuzzyMatchTable {

  val Name = "fuzzy_match"

  private val usage =
    "fuzzy_match('left_table', 'right_table', then 1+ mapping quadruples: " +
      "'left_col', 'right_col', threshold(0-100), " +
      s"'algo' in {${FuzzyAlgorithm.all.map(_.name).mkString(", ")}}, " +
      "then optional ('use_approx', bool | 'top_n', int | 'cross_over', " +
      "long | 'checkpoint_dir', 'path') pairs)"

  private val OptionKeys = Set("use_approx", "top_n", "cross_over", "checkpoint_dir")

  /** The collision case: a left column named like an option key ended the
    * quadruple run, so what follows is parsed as option pairs and the
    * "value" is really the intended right column. Always a hard error —
    * this wording explains the ambiguity instead of misdirecting. */
  private def ambiguity(key: String, got: Any, expected: String): Nothing =
    throw new IllegalArgumentException(
      s"fuzzy_match: option '$key' expects $expected, got '$got'. If " +
        s"'$key' was meant as a mapping's LEFT COLUMN, note that a column " +
        "literally named like an option key cannot start a quadruple " +
        s"(parsing switches to option pairs at the first of " +
        s"${OptionKeys.toSeq.sorted.mkString("'", "'/'", "'")}) — alias " +
        s"the column before calling. Usage: $usage")

  private val A = new TvfArgs(Name, usage)

  /** A numeric option value passes; anything else is the ambiguity error. */
  private def requireNumeric(key: String, v: Expression, expected: String): Unit =
    A.lit(v, s"$key value") match {
      case _: Number | _: Decimal =>
      case other => ambiguity(key, other, expected)
    }

  /** TVF builder registered by [[graft.GraftExtensions]]. */
  def build(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 6)
      throw new IllegalArgumentException(
        s"fuzzy_match: got ${args.length} arguments. Usage: $usage")
    val spark = SparkSession.active
    val left = spark.table(A.str(args(0), "left table name"))
    val right = spark.table(A.str(args(1), "right table name"))

    // consume mapping quadruples until an option key (or the end)
    val rest = args.drop(2)
    val isKey: Expression => Boolean = e =>
      e.foldable && (e.eval() match {
        case s: UTF8String => OptionKeys.contains(s.toString)
        case _ => false
      })
    val nQuadArgs = {
      var i = 0
      while (i + 4 <= rest.length && !isKey(rest(i))) i += 4
      i
    }
    if (nQuadArgs == 0 || (rest.length - nQuadArgs) % 2 != 0)
      throw new IllegalArgumentException(
        s"fuzzy_match: got ${args.length} arguments (" +
          s"${nQuadArgs / 4} mappings + ${rest.length - nQuadArgs} trailing). " +
          s"Usage: $usage")
    val maps = rest.take(nQuadArgs).grouped(4).zipWithIndex.map { case (g, i) =>
      FuzzyMapping(
        leftCol = A.str(g(0), s"mapping $i left column"),
        rightCol = A.str(g(1), s"mapping $i right column"),
        thresholdScore = A.dbl(g(2), s"mapping $i threshold"),
        fuzzyType = FuzzyAlgorithm.fromName(A.str(g(3), s"mapping $i algorithm")))
    }.toSeq

    var opts = MatchOptions()
    A.options(args, 2 + nQuadArgs) { (key, v) => key match {
      case "use_approx" => A.lit(v, "use_approx value") match {
        case b: Boolean => opts = opts.copy(useApproxNearestNeighbor = Some(b))
        case other => ambiguity("use_approx", other, "a boolean literal")
      }
      case "top_n" =>
        requireNumeric("top_n", v, "an integer literal")
        val n = A.int(v, "top_n value")
        if (n < 1) A.bad("top_n must be >= 1", n)
        opts = opts.copy(topNForNewMatches = n)
      case "cross_over" =>
        requireNumeric("cross_over", v, "a numeric literal")
        opts = opts.copy(crossOverForApprox = A.dbl(v, "cross_over value"))
      case "checkpoint_dir" => A.lit(v, "checkpoint_dir value") match {
        case s: UTF8String if s.toString.nonEmpty =>
          opts = opts.copy(checkpoint = graft.util.CheckpointStrategy.Reliable(s.toString))
        case other => ambiguity("checkpoint_dir", other,
          "a non-empty string literal (an HDFS-compatible directory)")
      }
      case other => A.bad("unknown option", other)
    }}
    FuzzyMatcher.matchDfs(left, right, maps, opts).queryExecution.analyzed
  }
}
