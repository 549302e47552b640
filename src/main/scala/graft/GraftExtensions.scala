package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftnative.{DotProduct, GraftNative, HashedShingles}

/** Session extension installer — the public plug-in point for the engine's
  * planner rules and native expressions. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (as
  * [[GraftSession.builder]] does) to install:
  *  - two optimizer rules: [[RedundantRoundRule]] (drops a provably
  *    redundant outer round) and [[SmallPlanRule]] (a plan whose inputs
  *    fit in one task runs as one stage);
  *  - the planner strategy of the native as-of join (`AsOfJoinExec`);
  *  - the SQL functions `graft_dot(a, b)` and
  *    `graft_hashed_shingles(ws, n)`.
  * The DataFrame API of the native expressions goes through
  * [[GraftFunctions]] and needs no session config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  // ONE arity-error constructor for every injected function — the third
  // injected builder was about to copy this five-entry map a third time,
  // and a fix (e.g. the docroot) must reach all of them
  private def wrongNumArgs(fn: String, expected: String, actual: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$fn`",
        "expectedNum" -> expected,
        "actualNum" -> actual,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RedundantRoundRule)
    ext.injectOptimizerRule(_ => SmallPlanRule)
    // Whole-operator extension: the native as-of join's planner strategy
    // (logical AsOfJoinPlan → physical AsOfJoinExec merge).
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftnative.AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        if (children.size != 2)
          wrongNumArgs("graft_dot", "2", children.size.toString)
        DotProduct(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hashed_shingles"),
      new ExpressionInfo(classOf[HashedShingles].getName, "graft_hashed_shingles"),
      (children: Seq[Expression]) => {
        // SQL form: graft_hashed_shingles(ws, n) with n a foldable int
        def wrongArgs(actual: String) =
          wrongNumArgs("graft_hashed_shingles", "2 (array<string>, int literal)", actual)
        if (children.size != 2) wrongArgs(children.size.toString)
        // Width must be a foldable integral literal; any integer width
        // (byte/short/int/long) is accepted and narrowed. A non-foldable
        // or non-integral width is a TYPE problem, not an arity problem —
        // use the type-check error classes instead of abusing
        // WRONG_NUM_ARGS (round-6 advice).
        import org.apache.spark.sql.types._
        def badValue(got: String) =
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "DATATYPE_MISMATCH.INVALID_ARG_VALUE",
            messageParameters = Map(
              "sqlExpr" -> "\"graft_hashed_shingles\"",
              "inputName" -> "`width`",
              "requireType" -> "integer",
              "validValues" -> "[1, 2147483647]",
              "inputValue" -> got))
        def nonFoldable() =
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`graft_hashed_shingles`",
              "paramName" -> "`width`",
              "paramType" -> "\"INT\""))
        children(1) match {
          case e if e.foldable =>
            e.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                val w = e.eval() match {
                  case b: java.lang.Byte => b.longValue()
                  case sh: java.lang.Short => sh.longValue()
                  case i: java.lang.Integer => i.longValue()
                  case l: java.lang.Long => l.longValue()
                  case null => badValue("NULL")
                }
                if (w < 1L || w > Int.MaxValue) badValue(w.toString)
                HashedShingles(children(0), w.toInt)
              case dt => badValue(s"expression of type ${dt.simpleString}")
            }
          case _ => nonFoldable()
        }
      }))
  }
}

/** Column-level entry points for the native expressions. */
object GraftFunctions {
  /** Codegen'd float-array dot product (see [[org.apache.spark.sql.graftnative.DotProduct]]). */
  def dotProduct(a: Column, b: Column): Column = GraftNative.dotProduct(a, b)

  /** Codegen'd float-array L2 norm (see [[org.apache.spark.sql.graftnative.VectorNorm]]). */
  def vectorNorm(a: Column): Column = GraftNative.vectorNorm(a)

  /** Codegen'd 16-bit random-hyperplane LSH bucket id
    * (see [[org.apache.spark.sql.graftnative.HyperplaneBucket]]).
    * Since round 10 this single-table form is a SKETCH primitive (a
    * 16-bit cosine signature — partition key, coarse clustering), NOT a
    * candidate generator: its measured recall of near-threshold pairs is
    * 0.05, which is why every graded ANN path uses [[hyperplaneBands]].
    * Kept as the banded family's single-table spec ground truth (the
    * UDF-twin bit-parity test) and the md5-weight family's minimal
    * form. */
  def hyperplaneBucket(a: Column): Column = GraftNative.hyperplaneBucket(a)

  /** Codegen'd band-OR amplified hyperplane LSH: array of 24 independent
    * 6-bit band bucket ids (see
    * [[org.apache.spark.sql.graftnative.HyperplaneBands]]). */
  def hyperplaneBands(a: Column): Column = GraftNative.hyperplaneBands(a)

  /** [[hyperplaneBands]] at an explicit operating point — the recall /
    * candidate-fraction dial (fraction ≈ numBands / 2^bandBits on
    * random pairs; corpora targeting sim ≥ 0.8 run more bits per band,
    * see docs/SCALE.md). Every (l, b) shares the one md5 hyperplane
    * family, so any point stays oracle-replayable. */
  def hyperplaneBands(a: Column, numBands: Int, bandBits: Int): Column =
    GraftNative.hyperplaneBands(a, numBands, bandBits)

  /** Custom sliding-window UDTF over a token array — a true Catalyst
    * `Generator` (see [[org.apache.spark.sql.graftnative.ChunkWindows]]).
    * Expands each row into (chunk_idx, chunk, n_tokens) rows. */
  def chunkWindows(ws: Column, size: Int, stride: Int): Column =
    GraftNative.chunkWindows(ws, size, stride)

  /** Compiled n-gram shingle ids — every n-word window hashed to the
    * engine's 60-bit md5-prefix id in one pass
    * (see [[org.apache.spark.sql.graftnative.HashedShingles]]). */
  def hashedShingles(ws: Column, n: Int): Column =
    GraftNative.hashedShingles(ws, n)

  /** Epoch micros of a TIMESTAMP_NTZ wall clock read AS UTC, independent
    * of the session timezone — a zero-cost codegen reinterpretation of
    * the NTZ internal representation
    * (see [[org.apache.spark.sql.graftnative.NtzMicros]]). Used by the
    * NTZ ingestion normalization ([[graft.Tables.load]]) and the
    * freshness audit; `cast("timestamp")` would shift every value for a
    * non-UTC embedder. */
  def ntzUtcMicros(c: Column): Column = GraftNative.ntzMicros(c)
}
