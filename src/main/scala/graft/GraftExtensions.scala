package graft

import graft.functions.{BpeTokens, DamerauLevenshtein, DotProduct, JaroWinkler, MinHashSig, SimHash64, WordShingles}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session extension wiring for graft's native expressions and optimizer
  * rules.
  *
  * Cluster use: `--conf spark.sql.extensions=graft.GraftExtensions` makes
  * `graft_dot(a, b)` available to every SQL/DataFrame session and adds
  * [[FooterAggregate]] and [[OneRowJoin]] to its optimizer. For an
  * already-running session, [[GraftExtensions.register]] installs the same
  * functions into the session's function registry and the same rules into
  * its `experimental.extraOptimizations`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  /** Extract a literal int argument (sketch widths are plan-time params). */
  private def intArg(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: sketch-size argument must be a literal")
    e.eval().asInstanceOf[Number].intValue
  }

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_shingles(text, n)")
        WordShingles(children.head, intArg(children(1), "graft_shingles"))
      }),
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_minhash(shingles, numHashes)")
        MinHashSig(children.head, intArg(children(1), "graft_minhash"))
      }),
    (new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_simhash(shingles)")
        SimHash64(children.head)
      }),
    (new FunctionIdentifier("graft_bpe_tokens"),
      new ExpressionInfo(classOf[BpeTokens].getName, "graft_bpe_tokens"),
      (children: Seq[Expression]) => {
        // merge table as a literal spec: ranked pairs joined by ';',
        // symbols inside a pair by ' ' — e.g. 'l o;lo w;e r'
        require(children.length == 2,
          "graft_bpe_tokens(text, 'l r;l r;...')")
        val spec = children(1)
        require(spec.foldable,
          "graft_bpe_tokens: the merge table must be a literal")
        val merges = spec.eval().toString.split(";").toSeq
          .filter(_.trim.nonEmpty).map { p =>
            val a = p.trim.split(" ", 2)
            require(a.length == 2,
              s"graft_bpe_tokens: bad merge entry '$p' (want 'left right')")
            (a(0), a(1))
          }
        BpeTokens(children.head, merges)
      }),
    (new FunctionIdentifier("graft_damerau_levenshtein"),
      new ExpressionInfo(classOf[DamerauLevenshtein].getName,
        "graft_damerau_levenshtein"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_damerau_levenshtein(a, b)")
        DamerauLevenshtein(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName,
        "graft_jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_jaro_winkler(a, b)")
        JaroWinkler(children.head, children(1))
      }))

  private val rules: Seq[Rule[LogicalPlan]] = Seq(FooterAggregate, OneRowJoin)

  /** Runtime registration into an existing session. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra ++ rules.filterNot(extra.contains)
  }
}
