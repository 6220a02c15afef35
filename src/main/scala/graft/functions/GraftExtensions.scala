package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native SQL functions —
  * `SELECT vector_cosine(embedding, q) FROM …` works from plain SQL once
  * the session is built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (set by
  * [[graft.GraftSession.engineConf]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(cls: Class[_], name: String, usage: String) =
    new ExpressionInfo(cls.getName, null, name, usage,
      "", "", "", "misc_funcs", "1.0.0", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      info(classOf[FloatVectorDot], "vector_dot",
        "vector_dot(a, b) - dot product of two float vectors"),
      (children: Seq[Expression]) => FloatVectorDot(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("vector_cosine"),
      info(classOf[FloatVectorCosine], "vector_cosine",
        "vector_cosine(a, b) - cosine similarity of two float vectors"),
      (children: Seq[Expression]) => FloatVectorCosine(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      info(classOf[NfcNormalize], "nfc_normalize",
        "nfc_normalize(s) - Unicode NFC canonical composition of s"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("luhn_check"),
      info(classOf[LuhnCheck], "luhn_check",
        "luhn_check(s) - true iff s is a Luhn-valid card-number candidate"),
      (children: Seq[Expression]) => LuhnCheck(children.head)))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      info(classOf[WordShingles], "word_shingles",
        "word_shingles(s, n) - distinct word n-grams of s (n a literal int)"),
      (children: Seq[Expression]) => WordShingles(children.head,
        shingleWidth(children))))
    // the sketch aggregates, reachable from plain SQL (the analyzer
    // wraps a bare AggregateFunction in its AggregateExpression) —
    // `SELECT source, hll_distinct(CAST(k AS STRING), 12) FROM t GROUP BY 1`
    ext.injectFunction((
      FunctionIdentifier("hll_distinct"),
      info(classOf[HllDistinctAgg], "hll_distinct",
        "hll_distinct(s, p) - approximate COUNT(DISTINCT s) via a 2^p-register HLL (p a literal int in [4,13])"),
      (children: Seq[Expression]) => HllDistinctAgg(children.head,
        litInt("hll_distinct", "p (the register precision)", children, arity = 2))))
    ext.injectFunction((
      FunctionIdentifier("freq_topk"),
      info(classOf[FreqTopKAgg], "freq_topk",
        "freq_topk(s, k) - Misra-Gries top-k items of s with estimated counts (k a literal int)"),
      (children: Seq[Expression]) => FreqTopKAgg(children.head,
        litInt("freq_topk", "k (how many items)", children, arity = 2), 1 << 16)))
    ext.injectFunction((
      FunctionIdentifier("quantile_sketch"),
      info(classOf[QuantileSketchAgg], "quantile_sketch",
        "quantile_sketch(x, p) - the p-quantile of DOUBLE x via a mergeable KLL sketch (p a literal double)"),
      (children: Seq[Expression]) => QuantileSketchAgg(children.head,
        Seq(litDouble("quantile_sketch", "p (the probability)", children, arity = 2)),
        1 << 16)))
    // the maintained-rollup sketch trio: store registers, union stored
    // blobs, read the estimate — all usable from plain SQL
    ext.injectFunction((
      FunctionIdentifier("hll_sketch"),
      info(classOf[HllSketchAgg], "hll_sketch",
        "hll_sketch(s, p) - serialized HLL register array of s (mergeable rollup state)"),
      (children: Seq[Expression]) => HllSketchAgg(children.head,
        litInt("hll_sketch", "p (the register precision)", children, arity = 2))))
    ext.injectFunction((
      FunctionIdentifier("hll_union"),
      info(classOf[HllUnionAgg], "hll_union",
        "hll_union(blob) - register-max union of serialized HLL sketches"),
      (children: Seq[Expression]) => { requireArity("hll_union", children, 1)
        HllUnionAgg(children.head) }))
    ext.injectFunction((
      FunctionIdentifier("hll_estimate"),
      info(classOf[HllEstimateExpr], "hll_estimate",
        "hll_estimate(blob) - cardinality estimate of a serialized HLL sketch"),
      (children: Seq[Expression]) => { requireArity("hll_estimate", children, 1)
        HllEstimateExpr(children.head) }))
    // materialized-rollup rewrite: aggregates over a registered fact
    // re-plan onto the maintained rollup (no-op while the catalog is
    // empty — registration is the opt-in). Injected at POST-HOC
    // RESOLUTION, not optimization: the match is by plan identity, and
    // only at analysis time is the query's fact subtree still exactly
    // the plan the registration captured (optimizer rules running in
    // the same batch would prune/push into it first) — the same slot
    // view substitution uses.
    ext.injectPostHocResolutionRule(_ => graft.plans.RollupRewrite)
  }

  private def requireArity(fn: String, children: Seq[Expression], n: Int): Unit =
    if (children.size != n)
      analysisError(fn, s"expected $n argument(s), got ${children.size}")

  /** The shingle width must be a foldable INT — anything else (BIGINT
    * literal, NULL, a column) gets a proper analysis error naming the
    * function instead of a bare ClassCastException/NPE at registration. */
  private def shingleWidth(children: Seq[Expression]): Int =
    litInt("word_shingles", "n (the shingle width)", children, arity = 2)

  private def analysisError(fn: String, msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_USER_RAISED_EXCEPTION",
      Map("errorMessage" -> s"$fn: $msg"))

  /** Foldable-INT literal argument with a proper analysis error for
    * BIGINT literals, NULL, columns, and wrong arity. */
  private def litInt(fn: String, what: String, children: Seq[Expression],
                     arity: Int): Int = {
    def fail(got: String): Nothing = analysisError(fn,
      s"argument $arity must be a foldable INT literal — $what — got $got")
    if (children.size != arity)
      analysisError(fn, s"expected $arity arguments, got ${children.size}")
    val n = children(arity - 1)
    if (!n.foldable) fail(s"non-foldable expression ${n.sql}")
    n.eval() match {
      case i: Int => i
      case null => fail("NULL")
      case other => fail(s"${n.dataType.simpleString} value $other (cast it to INT)")
    }
  }

  /** Foldable-DOUBLE literal argument (INT/DECIMAL literals widen). */
  private def litDouble(fn: String, what: String, children: Seq[Expression],
                        arity: Int): Double = {
    def fail(got: String): Nothing = analysisError(fn,
      s"argument $arity must be a foldable DOUBLE literal — $what — got $got")
    if (children.size != arity)
      analysisError(fn, s"expected $arity arguments, got ${children.size}")
    val n = children(arity - 1)
    if (!n.foldable) fail(s"non-foldable expression ${n.sql}")
    n.eval() match {
      case d: Double => d
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case f: Float => f.toDouble
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case null => fail("NULL")
      case other => fail(s"${n.dataType.simpleString} value $other (cast it to DOUBLE)")
    }
  }
}
