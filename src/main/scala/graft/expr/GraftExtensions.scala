package graft.expr

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Registers the engine's custom Catalyst expressions.
  *
  * Two paths to the same functions:
  *  - `spark.sql.extensions=graft.expr.GraftExtensions` (or
  *    `.withExtensions(new GraftExtensions)`) at session build — the
  *    cluster-deployment route;
  *  - [[GraftFunctions.register]] on a live session — the library route
  *    (idempotent; ops call it so `expr("... polyhash(t) ...")` lambdas
  *    resolve without any session setup by the caller).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.descriptions.foreach(e.injectFunction)
}

object GraftFunctions {
  type Builder = Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
    org.apache.spark.sql.catalyst.expressions.Expression

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("polyhash"),
      new ExpressionInfo(classOf[PolyHash].getName, "polyhash"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => PolyHash(es.head)),
    (FunctionIdentifier("uuid5"),
      new ExpressionInfo(classOf[UuidV5].getName, "uuid5"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => UuidV5(es(0), es(1))),
    (FunctionIdentifier("uuid3"),
      new ExpressionInfo(classOf[UuidV3].getName, "uuid3"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => UuidV3(es(0), es(1))),
    (FunctionIdentifier("col_profile"),
      new ExpressionInfo(classOf[ColumnProfileAgg].getName, "col_profile"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ColumnProfileAgg(es.head)),
    (FunctionIdentifier("dotp"),
      new ExpressionInfo(classOf[DotProduct].getName, "dotp"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(es(0), es(1))),
    (FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash16(es.head)),
    (FunctionIdentifier("srp_bucket"),
      new ExpressionInfo(classOf[SrpBucket].getName, "srp_bucket"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SrpBucket(es(0), es(1), es(2))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordShingles(es.head)),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashSig(es.head)),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash64(es.head)))

  /** Idempotent per-session registration: a name whose registered
    * function is already ours (from [[GraftExtensions]] or an earlier
    * call) is left as it is; a foreign function of the same name is
    * replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (id, info, builder) =>
      if (!registry.lookupFunction(id).exists(_.getClassName == info.getClassName))
        registry.registerFunction(id, info, builder)
    }
  }
}
