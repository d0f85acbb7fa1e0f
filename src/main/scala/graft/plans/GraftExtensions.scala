package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions.call_function
import graft.functions.{CosineSimilarity, Int8Cosine, Int8Pack, UnicodeNormalize, VectorDot}

/** Engine extensions, injected via the public `SparkSessionExtensions` hook
  * (SURVEY.md §2.10 X4, §4):
  *  - native functions beyond Spark's built-ins (`cosine_sim`,
  *    `vector_dot`, `int8_pack`, `int8_cosine`, `bloom_agg`,
  *    `bloom_might_contain`, `unicode_normalize`, `pq_encode`,
  *    `pq_adc_table`);
  *  - the lake's SQL table functions (`gentable_history`,
  *    `gentable_changes`, `gentable_fsck` — see [[GenTableTvf]]);
  *  - one optimizer rule, [[GenTableMetadataAggregate]] (whole-table
  *    aggregates over a GenTable answered from its manifest);
  *  - one resolution rule, [[GenTableDml]] (SQL DELETE/UPDATE/MERGE/INSERT
  *    over registered GenTable views).
  *
  * Two ways in:
  *  - config: `spark.sql.extensions=graft.plans.GraftExtensions` at session
  *    build time (cluster deployments) — everything above;
  *  - `GraftExtensions.register(spark)` on a live session (tests,
  *    notebooks) — everything but [[GenTableDml]], which needs the
  *    analyzer hook only the config path has.
  *
  * After either, `cosine_sim(a, b)` resolves in SQL and via
  * `GraftExtensions.cosineSim(colA, colB)` on the DataFrame API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // SQL table functions for the lake's operational plane (history /
    // CDC diff / disk audit as relations — see GenTableTvf)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => GenTableMetadataAggregate)
    // SQL DML (DELETE/UPDATE/MERGE) over registered GenTable views —
    // a RESOLUTION rule (it must claim the plan before the v2-only
    // check), so it is only available on sessions built with
    // spark.sql.extensions; the live-session register() path has no
    // analyzer hook to add it after the fact
    ext.injectResolutionRule(_ => GenTableDml)
  }
}

object GraftExtensions {

  private val cosineSimDescriptor = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2, "cosine_sim takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  private val vectorDotDescriptor = (
    FunctionIdentifier("vector_dot"),
    new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2, "vector_dot takes exactly 2 arguments")
      VectorDot(children.head, children(1))
    })

  private val int8PackDescriptor = (
    FunctionIdentifier("int8_pack"),
    new ExpressionInfo(classOf[Int8Pack].getName, "int8_pack"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 1, "int8_pack takes exactly 1 argument")
      Int8Pack(children.head)
    })

  // Spark's own runtime-row-level-filtering machinery (SPARK-32268), not
  // exposed in the public function registry — injecting it here gives the
  // decontamination operators the constant-size-broadcast probe shape with
  // zero custom code and full codegen (see Corpus.bloomContaminationFlags).
  private val bloomAggDescriptor = (
    FunctionIdentifier("bloom_agg"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      "bloom_agg"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 3,
        "bloom_agg(value, estimatedItems, numBits) takes exactly 3 arguments")
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        children.head, children(1), children(2))
    })

  private val bloomMightContainDescriptor = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "bloom_might_contain"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2,
        "bloom_might_contain takes exactly 2 arguments")
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        children.head, children(1))
    })

  private val unicodeNormalizeDescriptor = (
    FunctionIdentifier("unicode_normalize"),
    new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2,
        "unicode_normalize(str, form) takes exactly 2 arguments")
      require(children(1).foldable,
        "unicode_normalize form must be a constant (NFC/NFD/NFKC/NFKD)")
      UnicodeNormalize(children.head, children(1))
    })

  private val int8CosineDescriptor = (
    FunctionIdentifier("int8_cosine"),
    new ExpressionInfo(classOf[Int8Cosine].getName, "int8_cosine"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2, "int8_cosine takes exactly 2 arguments")
      Int8Cosine(children.head, children(1))
    })

  // PQ kernels take their codebook as a CONSTANT (it is driver-trained,
  // KB-sized, and the same for every row): the builder folds the literal
  // arguments once so the expression carries plain arrays instead of
  // m·ksub literal columns (the formulation whose generated code exceeded
  // what Janino can compile — see PqCodec's scaladoc).
  private def pqArgs(name: String,
      children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : (org.apache.spark.sql.catalyst.expressions.Expression, Array[Float], Int, Int) = {
    require(children.size == 4,
      s"$name(vec, flat_codebook, m, ksub) takes exactly 4 arguments")
    require(children.drop(1).forall(_.foldable),
      s"$name codebook/m/ksub must be constants")
    // typed extraction: a SQL caller passing array<double> literals or
    // bigint m/ksub gets an actionable analysis error, not a bare
    // ClassCastException from asInstanceOf
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val flat = children(1).dataType match {
      case ArrayType(FloatType, _) => children(1).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray()
      case ArrayType(DoubleType, _) => children(1).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toDoubleArray().map(_.toFloat)
      case other => throw new IllegalArgumentException(
        s"$name flat_codebook must be array<float> (or array<double>); got $other")
    }
    def constInt(i: Int, what: String): Int = children(i).eval(null) match {
      case v: Int => v
      case v: Long =>
        require(v >= Int.MinValue && v <= Int.MaxValue,
          s"$name $what out of int range: $v")
        v.toInt
      case v: Short => v.toInt
      case v: Byte => v.toInt
      case other => throw new IllegalArgumentException(
        s"$name $what must be an integer constant; got " +
          s"${children(i).dataType} ($other)")
    }
    (children.head, flat, constInt(2, "m"), constInt(3, "ksub"))
  }

  private val pqEncodeDescriptor = (
    FunctionIdentifier("pq_encode"),
    new ExpressionInfo(classOf[graft.functions.PqEncode].getName, "pq_encode"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      val (vec, flat, m, ksub) = pqArgs("pq_encode", children)
      graft.functions.PqEncode(vec, flat, m, ksub)
    })

  private val pqAdcTableDescriptor = (
    FunctionIdentifier("pq_adc_table"),
    new ExpressionInfo(classOf[graft.functions.PqAdcTable].getName, "pq_adc_table"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      val (vec, flat, m, ksub) = pqArgs("pq_adc_table", children)
      graft.functions.PqAdcTable(vec, flat, m, ksub)
    })

  private val functions = Seq(cosineSimDescriptor, vectorDotDescriptor,
    int8PackDescriptor, int8CosineDescriptor, bloomAggDescriptor,
    bloomMightContainDescriptor, unicodeNormalizeDescriptor, pqEncodeDescriptor,
    pqAdcTableDescriptor)

  private val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    (FunctionIdentifier("gentable_history"),
      new ExpressionInfo(GenTableTvf.getClass.getName, "gentable_history"),
      GenTableTvf.history _),
    (FunctionIdentifier("gentable_changes"),
      new ExpressionInfo(GenTableTvf.getClass.getName, "gentable_changes"),
      GenTableTvf.changes _),
    (FunctionIdentifier("gentable_fsck"),
      new ExpressionInfo(GenTableTvf.getClass.getName, "gentable_fsck"),
      GenTableTvf.fsck _))

  /** Registration on a live session; safe to call more than once. Adds
    * only what the session lacks: on a session built with the extension,
    * or after an earlier call, it replaces nothing, so a query planned on
    * another thread never sees a function swapped under it. Synchronized
    * on the session: the registries and the optimizer's rule list are
    * session-global, and a bare check-then-add would race.
    */
  def register(spark: SparkSession): Unit = spark.synchronized {
    // the runtime twin of the config path's injectOptimizerRule; a second
    // copy of the rule would run twice per plan
    val exp = spark.experimental
    if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules
        .contains(GenTableMetadataAggregate) &&
        !exp.extraOptimizations.contains(GenTableMetadataAggregate))
      exp.extraOptimizations = exp.extraOptimizations :+ GenTableMetadataAggregate
    val tables = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (id, info, builder) =>
      if (!tables.functionExists(id)) tables.registerFunction(id, info, builder)
    }
    val scalars = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!scalars.functionExists(id)) scalars.registerFunction(id, info, builder)
    }
  }

  /** Column-API access to the native expressions (requires `register`). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  def vectorDot(a: Column, b: Column): Column = call_function("vector_dot", a, b)

  def int8Pack(v: Column): Column = call_function("int8_pack", v)

  def int8Cosine(a: Column, b: Column): Column = call_function("int8_cosine", a, b)

  /** Unicode canonical normalization; form one of NFC/NFD/NFKC/NFKD. */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    call_function("unicode_normalize", c, org.apache.spark.sql.functions.lit(form))

  /** PQ codes / per-query ADC table over a driver-trained codebook
    * (`codebooks(s)(j)(i)`, flattened s-major). See [[graft.functions.PqEncode]].
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    call_function("pq_encode", vec,
      org.apache.spark.sql.functions.lit(codebooks.flatten.flatten),
      org.apache.spark.sql.functions.lit(codebooks.length),
      org.apache.spark.sql.functions.lit(codebooks(0).length))

  def pqAdcTable(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    call_function("pq_adc_table", vec,
      org.apache.spark.sql.functions.lit(codebooks.flatten.flatten),
      org.apache.spark.sql.functions.lit(codebooks.length),
      org.apache.spark.sql.functions.lit(codebooks(0).length))
}
