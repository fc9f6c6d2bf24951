package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring: makes graft's functions available in
  * ANY session whose builder calls
  * `.withExtensions(new GraftExtensions)`, or that is launched with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` —
  * the deployment path for clusters where sessions are built by the
  * platform, not the user (vs [[GraftFunctions.register]] for an
  * already-running session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "", "", "",
      "misc_funcs", "4.0.0", "", "scala_udf")

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
      v.toString.toInt
    case _ => throw new IllegalArgumentException(s"$what must be a literal")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("shingle_set"),
      info("shingle_set", "shingle_set(text, k) - word k-shingle set"),
      es => ShingleSet(es.head, intLit(es(1), "k"))))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, numPerm) - MinHash signature"),
      es => MinHashSig(es.head, intLit(es(1), "numPerm"))))
    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash"),
      es => SimHash64(es.head)))
    e.injectFunction((FunctionIdentifier("dot_long"),
      info("dot_long", "dot_long(a, b) - exact integer dot product"),
      es => DotLong(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity"),
      es => CosineSim(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC form"),
      es => NfcNormalize(es.head)))
    // plan-policy guardrail: refuse accidental cartesian products at
    // optimization time (see graft.plans.CartesianGuard for escapes)
    e.injectOptimizerRule(graft.plans.CartesianGuard)
  }
}
