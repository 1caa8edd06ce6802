package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension entry point: registers the native odds expressions so
  * they're callable from SQL text as well as the Column API. Install via
  * `graft.Sessions.builder(cpus).withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      (exprs: Seq[Expression]) => builder(exprs))

  /** A scalar-int argument that must be a literal (the kernel needs it at
    * plan time). Guarded so a non-foldable or non-integer argument fails
    * analysis with a message naming the function and argument, not an
    * opaque eval-time ClassCastException. */
  private def litInt(fnName: String, argName: String, e: Expression): Int = {
    def fail(): Nothing = throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$fnName`",
        "paramName" -> s"`$argName`",
        "paramType" -> "\"INT\""))
    if (!e.foldable) fail()
    e.eval() match {
      case n: Number => n.intValue
      case _ => fail()
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("normalize_odds", exprs => NormalizeOdds(exprs.head)))
    ext.injectFunction(fn("american_to_decimal", exprs => AmericanToDecimal(exprs.head)))
    ext.injectFunction(fn("hilbert_d", exprs => HilbertD(exprs(0), exprs(1),
      litInt("hilbert_d", "bits", exprs(2)))))
    ext.injectFunction(fn("dot_d", exprs => DotProductD(exprs(0), exprs(1))))
    ext.injectFunction(fn("mat_vec_d", exprs => MatVecD(exprs(0), exprs(1))))
    ext.injectFunction(fn("vec_sub_d", exprs => VecSubD(exprs(0), exprs(1))))
    ext.injectFunction(fn("sign_pack_l", exprs => SignPackL(exprs.head)))
    ext.injectFunction(fn("abs_max_d", exprs => AbsMaxD(exprs.head)))
    ext.injectFunction(fn("sq8_codes_i", exprs => Sq8CodesI(exprs(0), exprs(1))))
    ext.injectFunction(fn("pq_encode_i", exprs => PqEncodeI(exprs(0), exprs(1),
      litInt("pq_encode_i", "m", exprs(2)),
      litInt("pq_encode_i", "ksub", exprs(3)))))
    ext.injectFunction(fn("sum_abs_diff_l", exprs => SumAbsDiffL(exprs(0), exprs(1))))
    ext.injectFunction(fn("hamming_l", exprs => HammingL(exprs(0), exprs(1))))
    ext.injectFunction(fn("adc_sum_l", exprs => AdcSumL(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(fn("md5_base28_l", exprs => Md5Base28L(exprs.head)))
    ext.injectFunction(fn("minhash_sig_l", exprs => MinhashSigL(exprs(0),
      litInt("minhash_sig_l", "first", exprs(1)),
      litInt("minhash_sig_l", "count", exprs(2)))))
    ext.injectFunction(fn("simhash16_l", exprs => Simhash16L(exprs.head)))
    ext.injectFunction(fn("feat_embed_l", exprs => FeatEmbedL(exprs(0),
      litInt("feat_embed_l", "dim", exprs(1)))))
    ext.injectFunction(fn("shingles_s", exprs => ShinglesS(exprs(0),
      litInt("shingles_s", "n", exprs(1)))))
    ext.injectFunction(fn("trigrams_s", exprs => TrigramsS(exprs.head)))
    ext.injectFunction(fn("nfc_normalize", exprs => NfcNormalize(exprs.head)))
    ext.injectFunction(fn("deflate_len", exprs => DeflateLen(exprs.head)))
    ext.injectFunction(fn("prefix_sum_i", exprs => PrefixSumI(exprs.head)))
    ext.injectPlannerStrategy(_ => TopKPlan.Strategy)
    ext.injectOptimizerRule(_ => TopKRewrite)
  }
}
