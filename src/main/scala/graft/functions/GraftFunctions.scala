package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL surface for the custom kernels: every graft kernel is callable from
  * `spark.sql(...)` as `graft_*`.
  *
  * Two registration paths, same function table:
  *  - cluster deployment: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (applied at session build on driver AND executors' session clones)
  *  - an existing session (notebooks, tests): `graftsql.registerAll(spark)`
  */
object graftsql {

  private def c(e: Expression): Column = ColumnBridge.column(e)

  private def one(name: String, build: Column => Column) =
    (name, (args: Seq[Expression]) => {
      require(args.length == 1, s"$name expects 1 argument, got ${args.length}")
      ColumnBridge.expression(build(c(args.head)))
    })

  private def two(name: String, build: (Column, Column) => Column) =
    (name, (args: Seq[Expression]) => {
      require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
      ColumnBridge.expression(build(c(args(0)), c(args(1))))
    })

  private def intLit(name: String, e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
        org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: $what must be an INT literal, got $other")
  }

  /** Name → builder for every injectable expression; each builds through the same
    * Column function the Scala API exposes.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    one("graft_simhash64", hashfns.simhash64),
    one("graft_fingerprint", hashfns.rollingFingerprint),
    one("graft_char_entropy", textfns.charEntropy),
    one("graft_nfc", textfns.nfcNormalize),
    two("graft_damerau_levenshtein_sim", textfns.damerauLevenshteinSim),
    two("graft_jaro_sim", textfns.jaroSim),
    two("graft_jaro_winkler_sim", textfns.jaroWinklerSim(_, _, 0.1)),
    two("graft_jaccard2_sim", textfns.ngramJaccardSim(_, _, 2)),
    two("graft_cosine_sim", vecfns.cosineSim),
    ("graft_minhash", (args: Seq[Expression]) => {
      require(args.length == 3, s"graft_minhash(text, k, numHashes) expects 3 arguments, got ${args.length}")
      ColumnBridge.expression(hashfns.minhashSignature(c(args(0)),
        intLit("graft_minhash", args(1), "k"), intLit("graft_minhash", args(2), "numHashes")))
    }),
    ("graft_srp_bands", (args: Seq[Expression]) => {
      require(args.length == 3, s"graft_srp_bands(vec, bits, bands) expects 3 arguments, got ${args.length}")
      ColumnBridge.expression(hashfns.srpSketchBands(c(args(0)),
        intLit("graft_srp_bands", args(1), "bits"), intLit("graft_srp_bands", args(2), "bands")))
    }))

  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name), builder)
    }

  private[functions] def info(name: String) =
    new ExpressionInfo("graft.functions.graftsql", name)
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graftsql.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), graftsql.info(name), builder))
    }
}
