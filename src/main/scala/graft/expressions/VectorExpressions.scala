package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd integer dot product over two `array<bigint>` columns.
  *
  * The built-in route — `aggregate(zip_with(a, b, …))` — evaluates its
  * lambda per element in the interpreter (higher-order functions don't
  * participate in whole-stage codegen), which costs ~100 ns/element; over a
  * near-dup pair join (pairs × dims) that dominates the query. This
  * expression compiles to a tight Java loop inside the surrounding
  * WholeStageCodegen stage instead: measured ~20× faster on the
  * embedding near-dup benchmark at sf0.1.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_long_dot"
}

/** Levenshtein distance with common-prefix/suffix stripping.
  *
  * Near-duplicate candidate pairs — the only place the engine computes edit
  * distance — are strings that differ in a SMALL middle region and share
  * long identical prefixes/suffixes. Stripping the shared ends first is
  * distance-preserving (deleting a shared prefix/suffix never changes the
  * optimal alignment cost) and shrinks the O(n·m) DP to the differing
  * middle. Identical strings short-circuit to 0 with no DP at all. The
  * middle-slice distance delegates to the same UTF8String DP as the
  * built-in `levenshtein`, so results are bit-identical to it (and to the
  * DuckDB oracle). Char-level trims back off at surrogate-pair boundaries
  * so code-point semantics are preserved.
  */
object LevenshteinTrim {
  def distance(l: org.apache.spark.unsafe.types.UTF8String,
               r: org.apache.spark.unsafe.types.UTF8String): Int = {
    val a = l.toString
    val b = r.toString
    val alen = a.length
    val blen = b.length
    val n = math.min(alen, blen)
    var pre = 0
    while (pre < n && a.charAt(pre) == b.charAt(pre)) pre += 1
    if (pre == alen && pre == blen) return 0 // identical
    // never split a surrogate pair mid-trim
    if (pre > 0 && Character.isHighSurrogate(a.charAt(pre - 1))) pre -= 1
    var suf = 0
    val maxSuf = n - pre
    while (suf < maxSuf &&
      a.charAt(alen - 1 - suf) == b.charAt(blen - 1 - suf)) suf += 1
    if (suf > 0 && suf < alen && suf < blen &&
      Character.isLowSurrogate(a.charAt(alen - suf))) suf -= 1
    val ma = a.substring(pre, alen - suf)
    val mb = b.substring(pre, blen - suf)
    // Char-array DP when every remaining char is BMP (one char = one code
    // point): ~6× the throughput of UTF8String.levenshteinDistance, which
    // re-decodes variable-width UTF-8 on every cell access. Strings with
    // surrogate pairs take the UTF8String path so distances stay
    // code-point-based either way.
    if (hasSurrogate(ma) || hasSurrogate(mb))
      org.apache.spark.unsafe.types.UTF8String.fromString(ma)
        .levenshteinDistance(org.apache.spark.unsafe.types.UTF8String.fromString(mb))
    else charDp(ma, mb)
  }

  private def hasSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** Classic two-row Levenshtein DP over UTF-16 chars. */
  private def charDp(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      val ca = a.charAt(i - 1)
      j = 1
      while (j <= m) {
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        val sub = prev(j - 1) + (if (ca == b.charAt(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(del, ins), sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}

/** Codegen'd expression wrapper for [[LevenshteinTrim]]: same signature and
  * result as the built-in `levenshtein(l, r)`, ~len(shared ends)²-times less
  * DP work on near-duplicate inputs. */
case class TrimmedLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == org.apache.spark.sql.types.StringType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments, " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    LevenshteinTrim.distance(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.LevenshteinTrim.distance($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): TrimmedLevenshtein =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_levenshtein"
}

/** Codegen'd equi-depth bucket id: the count of `cuts` elements strictly
  * below `value`, by binary search over the sorted cut array (duplicate
  * cuts — flat quantile regions — resolve to the leftmost index, the same
  * id the comparison-ladder form yields).
  *
  * Why an expression and not `when` chains: a B-bucket ladder is B-1
  * CaseWhen nodes PER DIMENSION, and the k-dim Z-order layout stacks k of
  * them in one projection — measured 13 s of planning/codegen overhead at
  * B=64, k=3 on a 600k-row layout job whose actual row work is <1 s.
  * This node is O(log B) per row, constant-size in the plan, and inlines
  * into whole-stage codegen.
  */
case class EquiDepthBucket(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = left.dataType == org.apache.spark.sql.types.DoubleType &&
      (right.dataType match {
        case ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, array<double>), " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(v: Any, cs: Any): Any = {
    val value = v.asInstanceOf[Double]
    val cuts = cs.asInstanceOf[ArrayData]
    var lo = 0
    var hi = cuts.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts.getDouble(mid) < value) lo = mid + 1 else hi = mid
    }
    lo
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0;
         |int $hi = $cs.numElements();
         |while ($lo < $hi) {
         |  final int $mid = ($lo + $hi) >>> 1;
         |  if ($cs.getDouble($mid) < $v) { $lo = $mid + 1; } else { $hi = $mid; }
         |}
         |${ev.value} = $lo;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): EquiDepthBucket =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_bucket"
}

/** The library-wide md5-uniform numerator as ONE codegen'd expression.
  *
  * Every seeded decision in this engine (splits, draws, noise, masks) is
  * `conv(substring(md5(s), 1, 8), 16, 10)` — the first 32 bits of the MD5
  * digest read as an unsigned int. That 4-expression chain materializes a
  * 32-char hex UTF8String, slices it, and re-parses it through Conv's
  * arbitrary-base decimal machinery: measured ~17 µs/row inside a hot
  * fanout (q_bootstrap_ci at sf0.1). The first 8 hex chars ARE the first 4
  * digest bytes, so this expression returns the identical value —
  * `((b0·256 + b1)·256 + b2)·256 + b3` — straight from the digest, one
  * thread-local MessageDigest, no hex detour. BIT-IDENTICAL to the chain
  * (and to every DuckDB strpos-digit oracle spelling), so consumers can
  * swap it in without touching their oracles.
  */
object Md5U32 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def u32(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get()
    d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
      ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }
}

case class Md5UInt32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(s: Any): Any =
    Md5U32.u32(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5U32.u32($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5UInt32 =
    copy(child = newChild)

  override def prettyName: String = "graft_md5_u32"
}

/** Max-cosine centroid assignment against a DATA centroid table — the
  * k-scalable twin of the literal-struct argmax in
  * `graft.operators.KMeans.centArgmax`. The literal form builds an
  * expression tree ∝ k·d (one named_struct + one dot per centroid);
  * measured at sf1 its cost grows ~0.3 s per centroid once k passes a
  * few dozen — the generated method outgrows what JIT optimizes. Here
  * the centroids arrive as three CONSTANT arrays (flattened k·d sums,
  * per-centroid norms², centroid ids — folded to single literals before
  * codegen), and the whole argmax is ONE compiled k·d loop per row.
  * Arithmetic is the literal form's exactly — (double)dot /
  * (sqrt((double)nv) · sqrt((double)cn)), ties to the smallest cid — so
  * assignments are bit-identical (spec-pinned). */
object CentArgmaxData {
  def eval(v: ArrayData, nv: Long, flat: ArrayData, norms: ArrayData,
           cids: ArrayData): Long = {
    val d = v.numElements()
    val k = norms.numElements()
    var bestCos = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var c = 0
    while (c < k) {
      var dot = 0L
      var j = 0
      val off = c * d
      while (j < d) { dot += v.getLong(j) * flat.getLong(off + j); j += 1 }
      val cos = dot.toDouble / (java.lang.Math.sqrt(nv.toDouble) *
        java.lang.Math.sqrt(norms.getLong(c).toDouble))
      val cid = cids.getLong(c)
      if (cos > bestCos || (cos == bestCos && cid < bestCid)) {
        bestCos = cos
        bestCid = cid
      }
      c += 1
    }
    bestCid
  }
}

case class CentArgmaxExpr(children: Seq[Expression]) extends Expression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArray(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val ok = children.length == 5 &&
      isLongArray(children(0)) && children(1).dataType == LongType &&
      isLongArray(children(2)) && isLongArray(children(3)) &&
      isLongArray(children(4))
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, bigint, array<bigint>, " +
        "array<bigint>, array<bigint>)")
  }

  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = LongType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else CentArgmaxData.eval(vs(0).asInstanceOf[ArrayData],
      vs(1).asInstanceOf[Long], vs(2).asInstanceOf[ArrayData],
      vs(3).asInstanceOf[ArrayData], vs(4).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull.toString).mkString(" || ")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expressions.CentArgmaxData.eval(
            ${evals(0).value}, ${evals(1).value}, ${evals(2).value},
            ${evals(3).value}, ${evals(4).value});
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CentArgmaxExpr =
    copy(children = newChildren)

  override def prettyName: String = "graft_cent_argmax"
}

/** graft's native functions, registered into a session by [[graft.Session.setup]]. */
object GraftFunctions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val descriptors: Seq[Descriptor] = Seq(
    fn("graft_long_dot", classOf[LongDot])(c => LongDot(c.head, c(1))),
    fn("graft_levenshtein", classOf[TrimmedLevenshtein])(c => TrimmedLevenshtein(c.head, c(1))),
    fn("graft_nfc", classOf[NfcNormalize])(c => NfcNormalize(c.head)),
    fn("graft_bucket", classOf[EquiDepthBucket])(c => EquiDepthBucket(c.head, c(1))),
    fn("graft_md5_u32", classOf[Md5UInt32])(c => Md5UInt32(c.head)),
    fn("graft_lang_tri", classOf[LangTriScoresExpr])(c => LangTriScoresExpr(c.head)),
    fn("graft_cent_argmax", classOf[CentArgmaxExpr])(c => CentArgmaxExpr(c)))

  /** Idempotent session-level registration. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (fid, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(fid))
        spark.sessionState.functionRegistry.registerFunction(fid, info, builder)
    }
}
