package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Registers Graft's native expressions.
  *
  * Two entry points: as a `spark.sql.extensions` class
  * (`.config("spark.sql.extensions", "graft.plans.GraftExtensions")`) for
  * production sessions, and [[GraftExtensions.ensureRegistered]] for
  * operators that must work on any caller-supplied session (the driver
  * contract passes us its own).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Builder = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One registered function: `build` is defined exactly on the
    * argument lists it accepts; any other list fails analysis with
    * WRONG_NUM_ARGS, naming `expected`. */
  private def function(name: String, cls: Class[_ <: Expression], expected: String)(
      build: PartialFunction[Seq[Expression], Expression]): Builder = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => build.applyOrElse(children, (cs: Seq[Expression]) =>
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> expected,
          "actualNum" -> cs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))))

  /** Validate the evaluated k of a registered k-taking function: these
    * are user-facing SQL surfaces, so a NULL k must not NPE and k < 1
    * must not reach the expression (k = 0 would silently emit
    * empty-string shingles; negative k could throw from substring). */
  private def literalK(fn: String, e: Expression): Int = e.eval() match {
    case null =>
      throw new org.apache.spark.sql.AnalysisException(
        "INVALID_PARAMETER_VALUE.NULL",
        Map("parameter" -> "k", "functionName" -> s"`$fn`"),
        Option.empty[Throwable])
    case n: Number if n.intValue() >= 1 => n.intValue()
    case other =>
      throw new org.apache.spark.sql.AnalysisException(
        "INVALID_PARAMETER_VALUE.INTEGER",
        Map("parameter" -> "k", "functionName" -> s"`$fn`",
          "invalidValue" -> s"$other (k must be an integer >= 1)"),
        Option.empty[Throwable])
  }

  private val functions: Seq[Builder] = Seq(
    function("vec_dot_fixed", classOf[FixedPointDot], "2") {
      case Seq(a, b) => FixedPointDot(a, b)
    },
    function("vec_nearest_cells", classOf[NearestCells], "4 (vec, n2, cents, literal k)") {
      case Seq(v, n2, cents, k) if k.foldable =>
        NearestCells(v, n2, cents, literalK("vec_nearest_cells", k))
    },
    function("vec_dot_long", classOf[VecDotLong], "2") {
      case Seq(a, b) => VecDotLong(a, b)
    },
    function("feat_hash_vec", classOf[FeatHashVec], "2") {
      case Seq(a, b) => FeatHashVec(a, b)
    },
    function("sign_bands_long", classOf[SignBandsLong], "3 (vec, literal bands, literal bits)") {
      case Seq(v, bands, bits) => SignBandsLong(v, bands, bits)
    },
    function("shingle_set", classOf[ShingleSet], "2 (text, literal k)") {
      case Seq(t, k) if k.foldable => ShingleSet(t, literalK("shingle_set", k))
    },
    function("shingle_stats", classOf[ShingleStats], "2 (text, literal k)") {
      case Seq(t, k) if k.foldable => ShingleStats(t, literalK("shingle_stats", k))
    },
    function("minhash_sig", classOf[MinHashSig], "1 (array<string>)") {
      case Seq(a) => MinHashSig(a)
    },
    function("inter_count", classOf[InterCount], "2 (array<string>, array<string>)") {
      case Seq(a, b) => InterCount(a, b)
    })

  /** Idempotently register the native functions on an existing session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}
