package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, BloomFilterAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.sql.{Column, GraftShims, SparkSession}

/** Native Catalyst expression: cosine similarity of two float vectors in a
  * single fused pass — no intermediate arrays (the `zip_with` + `aggregate`
  * formulation in [[Portable.cosine]] materializes a product array and
  * walks higher-order-function lambdas per element; this is a tight
  * codegen'd loop over the unsafe array data).
  *
  * Accumulation is ascending-index sequential in both the interpreted and
  * codegen paths, bit-identical to [[Portable.cosine]] and to DuckDB's
  * `list_cosine_similarity` on DOUBLE[] — so swapping it in changes no
  * oracle result.
  */
case class FloatCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is unusable here (AbstractDataType is private[sql]),
  // so input types are enforced via checkInputDataTypes: getFloat() on a
  // non-FLOAT array would silently read garbage, not fail analysis.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = (double) $a.getFloat($i);
         |  double yv = (double) $b.getFloat($i);
         |  $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft's native functions, reached two ways that share one builder per
  * function (the `mk*` below):
  *   - the Column API ([[cosine]], [[minK]], [[bloomAgg]], …, and
  *     [[Portable]]'s hashes) constructs the expression directly through
  *     `GraftShims.column`, so it needs nothing registered on the session;
  *   - plain SQL resolves the names in [[SqlFunctions]], installed at run
  *     time by [[register]] (idempotent, on any session) or at session
  *     build time by `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftFunctions {
  val CosineName = "graft_cosine"
  val CollectCappedName = "graft_collect_capped"
  val MinKName = "graft_min_k"
  val BloomAggName = "graft_bloom_agg"
  val BloomContainsName = "graft_bloom_contains"
  val HilbertName = "graft_hilbert"
  val Hash60Name = "graft_hash60"
  val Md5SlicesName = "graft_md5_slices"
  val RegexpCountName = "graft_regexp_count"
  val PqSubDistsName = "graft_pq_sub_dists"
  val ArgmaxCosineName = "graft_argmax_cosine"

  /** Evaluate a foldable argument to a plan-time Int with descriptive
    * errors: a null or non-numeric literal must fail with the function
    * and argument named, not an opaque NPE/ClassCastException deep in
    * the cast. Shared by every capped-buffer builder below. */
  private def foldToInt(fn: String, arg: String, e: Expression): Int = {
    require(e.foldable, s"$fn $arg must be a literal integer")
    e.eval() match {
      case n: Number =>
        val l = n.longValue
        if (l < Int.MinValue || l > Int.MaxValue)
          throw new IllegalArgumentException(
            s"$fn $arg must fit in a 32-bit integer, got $l")
        l.toInt
      case null      => throw new IllegalArgumentException(
        s"$fn $arg must be a non-null literal integer, got NULL")
      case other     => throw new IllegalArgumentException(
        s"$fn $arg must be a literal integer, got " +
          s"${other.getClass.getSimpleName} '$other'")
    }
  }

  /** Build a [[CollectCapped]] from its arguments: the cap must be a
    * foldable integer (it sizes aggregation buffers at plan time).
    * Shared by the Column API and the SQL surface, so both validate
    * arity/foldability identically. */
  private[graft] def mkCollectCapped(exprs: Seq[Expression]): CollectCapped = {
    require(exprs.length == 2,
      s"$CollectCappedName takes exactly 2 arguments (expr, cap), got ${exprs.length}")
    CollectCapped(exprs.head, foldToInt(CollectCappedName, "cap", exprs(1)))
  }

  /** Build a [[MinKCollect]] from its arguments: k must be a foldable
    * integer (it bounds aggregation buffers at plan time). The element
    * type's orderability is checked at analysis
    * ([[MinKCollect.checkInputDataTypes]]). */
  private[graft] def mkMinK(exprs: Seq[Expression]): MinKCollect = {
    require(exprs.length == 2,
      s"$MinKName takes exactly 2 arguments (expr, k), got ${exprs.length}")
    MinKCollect(exprs.head, foldToInt(MinKName, "k", exprs(1)))
  }

  /** Build a [[FloatCosine]] from its arguments, with arity validation. */
  private[graft] def mkCosine(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"$CosineName takes exactly 2 arguments, got ${exprs.length}")
    FloatCosine(exprs.head, exprs(1))
  }

  /** Build a [[PqSubDists]] from its arguments, with arity validation. */
  private[graft] def mkPqSubDists(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"$PqSubDistsName takes exactly 2 arguments, got ${exprs.length}")
    PqSubDists(exprs.head, exprs(1))
  }

  /** Build an [[ArgmaxCosine]] from its arguments, with arity validation. */
  private[graft] def mkArgmaxCosine(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"$ArgmaxCosineName takes exactly 3 arguments (vec, cents, ids), got ${exprs.length}")
    ArgmaxCosine(exprs.head, exprs(1), exprs(2))
  }

  /** Build-side bloom aggregate `graft_bloom_agg(xxhash64_key, items,
    * bits)` → BINARY. Delegates to Spark's internal [[BloomFilterAggregate]]
    * (the machinery behind AQE runtime filters), exposed as a first-class
    * function so a pipeline can build the filter ONCE and reuse it across
    * probe queries. Sizing args must be plan-time literals — they size
    * the aggregation buffer. */
  private[graft] def mkBloomAgg(exprs: Seq[Expression]): BloomFilterAggregate = {
    require(exprs.length == 3,
      s"$BloomAggName takes exactly 3 arguments (keyHash, estimatedItems, numBits), got ${exprs.length}")
    require(exprs(1).foldable && exprs(2).foldable,
      s"$BloomAggName sizing arguments must be literal integers")
    // SQL integer literals parse as INT; the underlying aggregate demands
    // BIGINT sizing args — coerce so `graft_bloom_agg(h, 1000, 16000)`
    // just works instead of failing with a type-mismatch
    def asLong(e: Expression): Expression = Literal(e.eval().asInstanceOf[Number].longValue)
    new BloomFilterAggregate(exprs(0), asLong(exprs(1)), asLong(exprs(2)))
  }

  /** Build a [[Md5Hash60]] from its arguments, with arity validation. */
  private[graft] def mkHash60(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"$Hash60Name takes exactly 1 argument, got ${exprs.length}")
    Md5Hash60(exprs.head)
  }

  /** Build a [[Md5Slices]] from its arguments: the slice geometry must be
    * plan-time literals (it fixes the output array shape). */
  private[graft] def mkMd5Slices(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4,
      s"$Md5SlicesName takes exactly 4 arguments (expr, n, len, stride), got ${exprs.length}")
    Md5Slices(exprs.head,
      foldToInt(Md5SlicesName, "n", exprs(1)),
      foldToInt(Md5SlicesName, "len", exprs(2)),
      foldToInt(Md5SlicesName, "stride", exprs(3)))
  }

  /** Build a [[RegexpCount]] from its arguments: the pattern must be a
    * plan-time, non-null STRING literal (it is compiled once per
    * expression) — checked explicitly so a NULL or non-string literal
    * fails with this message at analysis, not an NPE or a silently
    * stringified pattern. */
  private[graft] def mkRegexpCount(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"$RegexpCountName takes exactly 2 arguments (text, pattern), got ${exprs.length}")
    require(exprs(1).foldable && exprs(1).dataType == StringType,
      s"$RegexpCountName pattern must be a literal string")
    val pat = exprs(1).eval()
    require(pat != null, s"$RegexpCountName pattern must be a literal string, got NULL")
    RegexpCount(exprs.head, pat.toString)
  }

  /** Build a [[HilbertIndex]] from its arguments, with arity validation. */
  private[graft] def mkHilbert(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"$HilbertName takes exactly 2 arguments (x, y), got ${exprs.length}")
    HilbertIndex(exprs.head, exprs(1))
  }

  /** Probe-side test `graft_bloom_contains(bloomBinary, xxhash64_key)`.
    * The bloom argument must be foldable (a literal carrying the built
    * filter — the broadcast seat); Spark's
    * [[BloomFilterMightContain]] enforces the same and codegens the
    * probe. */
  private[graft] def mkBloomContains(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"$BloomContainsName takes exactly 2 arguments (bloom, keyHash), got ${exprs.length}")
    require(exprs.head.foldable,
      s"$BloomContainsName bloom argument must be a literal binary value")
    BloomFilterMightContain(exprs.head, exprs(1))
  }

  /** The SQL surface: one entry per native function, walked by both
    * [[register]] and [[graft.GraftExtensions]]. */
  private[graft] val SqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = {
    def entry(name: String, cls: Class[_], build: FunctionBuilder) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    Seq(
      entry(CosineName, classOf[FloatCosine], mkCosine),
      entry(CollectCappedName, classOf[CollectCapped], mkCollectCapped),
      entry(MinKName, classOf[MinKCollect], mkMinK),
      entry(BloomAggName, classOf[BloomFilterAggregate], mkBloomAgg),
      entry(BloomContainsName, classOf[BloomFilterMightContain], mkBloomContains),
      entry(HilbertName, classOf[HilbertIndex], mkHilbert),
      entry(Hash60Name, classOf[Md5Hash60], mkHash60),
      entry(Md5SlicesName, classOf[Md5Slices], mkMd5Slices),
      entry(RegexpCountName, classOf[RegexpCount], mkRegexpCount),
      entry(PqSubDistsName, classOf[PqSubDists], mkPqSubDists),
      entry(ArgmaxCosineName, classOf[ArgmaxCosine], mkArgmaxCosine))
  }

  /** Installs [[SqlFunctions]] on `spark` for plain-SQL use; the Column
    * API below needs no registration. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    SqlFunctions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }

  /** The Column API's one way in: `build` is the SQL surface's builder,
    * applied to the arguments' expressions. A plan-time argument is
    * passed as a [[Literal]]: a Column's expression stays an unresolved
    * wrapper until analysis, so it is never foldable here. */
  private def native(build: FunctionBuilder, args: Expression*): Column =
    GraftShims.column(build(args))

  private def nativeAgg(build: Seq[Expression] => AggregateFunction, args: Expression*): Column =
    GraftShims.column(build(args).toAggregateExpression())

  private def expr(c: Column): Expression = GraftShims.expression(c)

  /** Column API for the native cosine. */
  def cosine(a: Column, b: Column): Column = native(mkCosine, expr(a), expr(b))

  /** Column API for the fused PQ subspace distances:
    * `ARRAY<DOUBLE>[8]`, subspace s = Σ (a[i]-b[i])² over [s*8, s*8+8). */
  def pqSubDists(a: Column, b: Column): Column = native(mkPqSubDists, expr(a), expr(b))

  /** Column API for the fused nearest-centroid argmax: `cents`/`ids` are
    * plan literals (ascending id order — the caller's tie contract), the
    * result is the winning id or NULL when every similarity is NaN. See
    * [[ArgmaxCosine]]. */
  def argmaxCosine(vec: Column, cents: Column, ids: Column): Column =
    native(mkArgmaxCosine, expr(vec), expr(cents), expr(ids))

  /** Column API for the bounded collect: at most `cap + 1` elements
    * retained per group — size `cap + 1` flags an overflowing group (see
    * [[CollectCapped]]). */
  def collectCapped(e: Column, cap: Int): Column = nativeAgg(mkCollectCapped, expr(e), Literal(cap))

  /** Column API for the deterministic bounded min-k: the `k` smallest
    * elements per group, ascending — see [[MinKCollect]]. */
  def minK(e: Column, k: Int): Column = nativeAgg(mkMinK, expr(e), Literal(k))

  /** Column API for the build-side bloom aggregate over a hashed key
    * (`xxhash64`): one BINARY filter per group, see [[mkBloomAgg]]. */
  def bloomAgg(keyHash: Column, estimatedItems: Long, numBits: Long): Column =
    nativeAgg(mkBloomAgg, expr(keyHash), Literal(estimatedItems), Literal(numBits))

  /** Column API for the probe-side test of a [[bloomAgg]] filter against
    * a hashed key (`xxhash64`): true when the key MIGHT be in `bloom`. */
  def bloomContains(bloom: Array[Byte], keyHash: Column): Column =
    native(mkBloomContains, Literal(bloom), expr(keyHash))

  /** Column API for the 2-D Hilbert curve index, see [[HilbertIndex]]. */
  def hilbert(x: Column, y: Column): Column = native(mkHilbert, expr(x), expr(y))

  /** null/NaN mask for a [[minK]] argmin/argmax candidate whose ordering
    * key is `key`: a masked (null) ELEMENT is skipped by the aggregate —
    * max_by's skip-null-ordering-key semantics — where an unmasked null
    * key FIELD would sort first and win every argmin (see
    * [[MinKCollect]]'s null-semantics note). One definition shared by
    * every argmax call site (batch and streaming) so the convention
    * cannot drift. */
  def minKCandidate(key: Column, cand: Column): Column = {
    import org.apache.spark.sql.functions.{isnan, when}
    // cast("double") makes the NaN check type-safe for integral keys too
    // (any integral value casts to a non-NaN double, so the check is a
    // no-op there; for fractional keys the cast is identity-or-widening)
    when(key.isNotNull && !isnan(key.cast("double")), cand)
  }
}
