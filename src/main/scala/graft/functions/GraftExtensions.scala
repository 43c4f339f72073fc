package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring for graft's custom expressions — the
  * construction-time alternative to [[GraftFunctions.register]]: a
  * session built with
  *
  * {{{
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * (as `graft.SparkEntry.session` does) makes `graft_minhash_signature` / `graft_lsh_bucket` / `graft_jaccard`
  * available in SQL text on every session of that context (the runtime
  * `register` path remains for sessions we did not construct, e.g. the
  * driver's).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]) =
    new ExpressionInfo(clazz.getName, name)

  override def apply(e: SparkSessionExtensions): Unit = {
    // arity-gated builders (review-r11 — same gate as
    // GraftFunctions.register: surplus args must fail analysis, not
    // be silently discarded)
    import GraftFunctions.checkArity
    e.injectFunction((FunctionIdentifier(GraftFunctions.MinhashName),
      info(GraftFunctions.MinhashName, classOf[MinHashSignatureExpr]),
      (exprs: Seq[Expression]) => MinHashSignatureExpr(
        checkArity(GraftFunctions.MinhashName, 1, exprs).head,
        shingleK = 3, numHashes = 8)))
    e.injectFunction((FunctionIdentifier(GraftFunctions.ShingleExplodeName),
      info(GraftFunctions.ShingleExplodeName, classOf[ShingleExplodeExpr]),
      (exprs: Seq[Expression]) => ShingleExplodeExpr(
        checkArity(GraftFunctions.ShingleExplodeName, 1, exprs).head,
        shingleK = 3)))
    e.injectFunction((FunctionIdentifier(GraftFunctions.LshBucketName),
      info(GraftFunctions.LshBucketName, classOf[LshBucketExpr]),
      (exprs: Seq[Expression]) => LshBucketExpr(
        checkArity(GraftFunctions.LshBucketName, 1, exprs).head,
        nPlanes = 8)))
    e.injectFunction((FunctionIdentifier(GraftFunctions.JaccardName),
      info(GraftFunctions.JaccardName, classOf[JaccardExpr]),
      (exprs: Seq[Expression]) => {
        checkArity(GraftFunctions.JaccardName, 2, exprs)
        JaccardExpr(exprs.head, exprs(1))
      }))
    e.injectFunction((FunctionIdentifier(GraftFunctions.DotName),
      info(GraftFunctions.DotName, classOf[DotExpr]),
      (exprs: Seq[Expression]) => {
        checkArity(GraftFunctions.DotName, 2, exprs)
        DotExpr(exprs.head, exprs(1))
      }))
    e.injectFunction((FunctionIdentifier(GraftFunctions.NfcName),
      info(GraftFunctions.NfcName, classOf[NfcNormalizeExpr]),
      (exprs: Seq[Expression]) => NfcNormalizeExpr(
        checkArity(GraftFunctions.NfcName, 1, exprs).head)))
    e.injectFunction((FunctionIdentifier(GraftFunctions.NearestSeedName),
      info(GraftFunctions.NearestSeedName, classOf[NearestSeedExpr]),
      (exprs: Seq[Expression]) => {
        checkArity(GraftFunctions.NearestSeedName, 2, exprs)
        NearestSeedExpr(exprs(0), exprs(1))
      }))
    e.injectFunction((FunctionIdentifier(GraftFunctions.CanonicalUrlName),
      info(GraftFunctions.CanonicalUrlName, classOf[CanonicalUrlExpr]),
      (exprs: Seq[Expression]) => CanonicalUrlExpr(
        checkArity(GraftFunctions.CanonicalUrlName, 1, exprs).head)))
    e.injectFunction(
      (FunctionIdentifier(GraftFunctions.RegistrableDomainName),
        info(GraftFunctions.RegistrableDomainName,
          classOf[RegistrableDomainExpr]),
        (exprs: Seq[Expression]) => RegistrableDomainExpr(
          checkArity(GraftFunctions.RegistrableDomainName, 1,
            exprs).head)))
    e.injectFunction((FunctionIdentifier(GraftFunctions.RobotsAllowedName),
      info(GraftFunctions.RobotsAllowedName, classOf[RobotsAllowedExpr]),
      (exprs: Seq[Expression]) => {
        checkArity(GraftFunctions.RobotsAllowedName, 3, exprs)
        RobotsAllowedExpr(exprs(0), exprs(1), exprs(2))
      }))
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectPlannerStrategy(_ => graft.plans.RunningTotalStrategy)
  }
}
