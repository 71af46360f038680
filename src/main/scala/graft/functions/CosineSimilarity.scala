package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns, with whole-stage codegen.
  *
  * Why an Expression and not a UDF or higher-order functions: Spark's
  * array HOFs (zip_with/aggregate) are CodegenFallback — interpreted
  * per row — and a Scala UDF (or a typed mapPartitions kernel) pays
  * serialization in and out of Tungsten rows. `doGenCode` emits the
  * tight loop directly into the generated stage, so pair scoring
  * stays columnar-scan → codegen → aggregate with no boundary.
  * This follows the build guidance preference order: compose built-ins
  * where possible, else a codegen'd Expression (this), with
  * mapPartitions as the last resort.
  *
  * Semantics: dot(a,b) / (‖a‖·‖b‖) over the common prefix length;
  * zero vectors yield NaN (same as the arithmetic definition). Null
  * input → null (standard null-intolerant binary expression).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      // null element ⇒ null result, matching zip_with/aggregate
      // null-propagation (reading it as 0.0 would be silently wrong)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    $hasNull = true; break;
         |  }
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot /
         |    (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** Registration of graft's native expressions into a session's
  * function registry (idempotent) — after this, `cosine_sim(a, b)`
  * works from `spark.sql` and `functions.call_function`.
  */
object GraftFunctions {

  // sessions we registered into — detects foreign functions squatting
  // on the name (silently dispatching to one would compute wrong
  // results with no error)
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  private def markRegistered(spark: SparkSession, name: String): Unit =
    registered.computeIfAbsent(spark,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
      .add(name)

  private def isRegistered(spark: SparkSession, name: String): Boolean =
    Option(registered.get(spark)).exists(_.contains(name))

  private case class Spec(name: String, className: String,
                          usage: String, arity: Int,
                          build: Seq[Expression] => Expression)

  private val specs = Seq(
    Spec("cosine_sim", classOf[CosineSimilarity].getName,
      "cosine_sim(a, b) - cosine similarity of two array<double> " +
        "vectors", 2,
      { case Seq(a, b) => CosineSimilarity(a, b) }),
    Spec("nfc_normalize", classOf[NfcNormalize].getName,
      "nfc_normalize(s) - Unicode NFC canonical composition", 1,
      { case Seq(s) => NfcNormalize(s) }),
    Spec("minhash_sigs", classOf[MinhashSignaturesAgg].getName,
      "minhash_sigs(h, a_array, b_array) - aggregate: all minhash " +
        "signature components min((h*a_i + b_i) mod 2147483647) in " +
        "one primitive buffer", 3,
      { case Seq(h, a, b) => MinhashSignaturesAgg(h, a, b) }),
    Spec("minhash_oph_sigs", classOf[MinhashOphAgg].getName,
      "minhash_oph_sigs(s, nBins, seed) - aggregate: one-permutation " +
        "minhash signature (nBins high-bit buckets, min per bucket, " +
        "rotation densification); one bucket update per row", 3,
      { case Seq(s, nb, sd) => MinhashOphAgg(s, nb, sd) }))

  def register(spark: SparkSession): Unit = specs.foreach { spec =>
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(spec.name)
    if (registry.functionExists(ident)) {
      // the identity map misses CLONED sessions (Structured Streaming
      // clones the session per micro-batch, copying the registry), so
      // also accept an existing registration whose ExpressionInfo
      // points at our own class
      val ours = isRegistered(spark, spec.name) ||
        registry.lookupFunction(ident)
          .exists(_.getClassName == spec.className)
      if (!ours)
        throw graft.exceptions.InvalidArgumentCombination(
          s"a different function named ${spec.name} is already " +
            "registered in this session; graft's native expression " +
            "would be shadowed")
      markRegistered(spark, spec.name)
    } else {
      markRegistered(spark, spec.name)
      registry.registerFunction(
        ident,
        new ExpressionInfo(spec.className, null, spec.name,
          spec.usage, ""),
        (children: Seq[Expression]) =>
          if (children.size == spec.arity) spec.build(children)
          else throw graft.exceptions.InvalidArgumentValue(
            s"${spec.name} expects ${spec.arity} arguments, " +
              s"got ${children.size}"))
    }
  }

  /** Injection hook for `SparkSessionExtensions` — the config-driven
    * twin of `register`: with
    * `spark.sql.extensions=graft.functions.GraftExtensions` every
    * session (and every Structured Streaming micro-batch clone) is
    * born with the native functions installed, no code call needed.
    */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    specs.foreach { spec =>
      ext.injectFunction((
        FunctionIdentifier(spec.name),
        new ExpressionInfo(spec.className, null, spec.name,
          spec.usage, ""),
        (children: Seq[Expression]) =>
          if (children.size == spec.arity) spec.build(children)
          else throw graft.exceptions.InvalidArgumentValue(
            s"${spec.name} expects ${spec.arity} arguments, " +
              s"got ${children.size}")))
    }
}

/** `spark.sql.extensions` entry point: installs graft's native
  * codegen expressions (`cosine_sim`, `nfc_normalize`) into every
  * session created under the config — the deployment mode for
  * clusters where user code can't call `GraftFunctions.register`
  * (SQL-only gateways, Thrift/Connect servers).
  */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.injectInto(ext)
}
