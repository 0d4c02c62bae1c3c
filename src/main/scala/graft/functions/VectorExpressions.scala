package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the embedding hot path — the
  * (b)-level extension from the design hierarchy: compose built-ins
  * first, custom `Expression` with `doGenCode` where built-ins can't
  * keep up, full planner extension never needed here.
  *
  * The HOF formulation (`zip_with` + `aggregate`) materializes an
  * intermediate array per pair evaluation; at O(n²) near-dup scale
  * that allocation dominates. This expression fuses dot product and
  * both norms into one allocation-free loop inside whole-stage
  * codegen. The interpreted path (`nullSafeEval`) accumulates in the
  * same index order, so both paths produce bit-identical doubles.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got ${left.dataType} and ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
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
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All `tables` salted LSH sign-pattern keys of a vector in ONE fused
  * loop — replaces the posexplode → (planes×tables)-buffer hash
  * aggregate formulation, which cost a full shuffle of dims rows per
  * vector plus per-buffer aggregation overhead. The plane matrix
  * (splitmix64-derived, identical values to
  * [[graft.operators.Similarity]]'s literal planes) is precomputed
  * once per expression instance and shared via a codegen reference;
  * per row the kernel is `tables×planes` dot products over the float
  * array — allocation-free, inside whole-stage codegen, no shuffle.
  * Interpreted and codegen paths accumulate in the same index order →
  * bit-identical signs. */
case class LshSignKeysExpr(child: Expression, planes: Int, tables: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "lsh_sign_keys"

  // Plan-time validation (also covers spark.sql callers of the
  // registered function): a plane index >= 32 would collide 1L << j
  // with the table-salt high word (t << 32) and silently corrupt keys.
  override def checkInputDataTypes(): TypeCheckResult =
    if (planes < 1 || planes > 32)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: planes must be in [1, 32] (sign bits share a " +
          s"64-bit key with the table salt), got $planes")
    else if (tables < 1)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: tables must be >= 1, got $tables")
    else child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT>, got $other")
    }

  /** Row-major [plane][dim] hyperplane-component cache, sized lazily
    * from the first observed vector length. Component (p, i) is
    * `mix64((p << 32) | i)` — independent of the vector length — so
    * keys are identical to the former explicit-`dims` formulation and
    * NO driver-side dims probe is needed to build the plan (the cache
    * is a per-executor-instance memo, rebuilt only if the observed
    * length changes; LSH over genuinely ragged vectors is undefined
    * anyway). Benign race: the tuple swap is atomic and the build is
    * idempotent. */
  @transient private var cached: (Int, Array[Double]) = null
  def matrixFor(n: Int): Array[Double] = {
    val c = cached
    if (c != null && c._1 == n) c._2
    else {
      val m = new Array[Double](tables * planes * n)
      var p = 0
      while (p < tables * planes) {
        var i = 0
        while (i < n) {
          m(p * n + i) = VectorExpressions
            .mix64((p.toLong << 32) | i.toLong).toDouble /
            Long.MaxValue.toDouble
          i += 1
        }
        p += 1
      }
      cached = (n, m)
      m
    }
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val mat = matrixFor(n)
    val keys = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = t.toLong << 32
      var j = 0
      while (j < planes) {
        val base = (t * planes + j) * n
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += x.getFloat(i).toDouble * mat(base + i)
          i += 1
        }
        if (dot >= 0) key |= (1L << j)
        j += 1
      }
      keys(t) = key
      t += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      // reference the expression instance itself: the matrix is fetched
      // through the memo (one virtual call + branch per row — noise
      // next to the planes×tables×dims multiply loop)
      val self = ctx.addReferenceObj("lshKeys", this,
        classOf[LshSignKeysExpr].getName)
      val m = ctx.freshName("m")
      val n = ctx.freshName("n"); val keys = ctx.freshName("keys")
      val t = ctx.freshName("t"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val dot = ctx.freshName("dot")
      val key = ctx.freshName("key"); val base = ctx.freshName("base")
      s"""
         |int $n = $v.numElements();
         |double[] $m = $self.matrixFor($n);
         |long[] $keys = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $key = ((long) $t) << 32;
         |  for (int $j = 0; $j < $planes; $j++) {
         |    int $base = ($t * $planes + $j) * $n;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += (double) $v.getFloat($i) * $m[$base + $i];
         |    }
         |    if ($dot >= 0) $key |= (1L << $j);
         |  }
         |  $keys[$t] = $key;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`n` nearest centroids of a vector by (cosine desc, list_id
  * asc) in ONE per-row kernel over the collected centroid table —
  * replaces the corpus × nLists crossJoin + row_number window
  * formulation, whose window was a full corpus EXCHANGE (hash by
  * neighbor_id) plus a per-partition sort of the fanned-out rows:
  * the k-means assignment cost every IVF build/append/candidates
  * path paid per Lloyd round and once per final assignment. The
  * centroid table is bounded by construction (≤ nLists = √n rows —
  * the same bound that made it broadcastable before), so embedding
  * it in the expression moves no more data than the old
  * BroadcastExchange did, and the assignment becomes a shuffle-free
  * map over the corpus in scan partitioning.
  *
  * Ordering is replicated exactly: the cosine accumulates in the
  * SAME index order as [[CosineSimilarityExpr]] (bit-identical
  * doubles), scores are normalized with `+ 0.0` so −0.0 ties +0.0
  * the way SQL ordering does, `java.lang.Double.compare` then
  * matches the SQL sort (NaN greatest), and centroids iterate in
  * ascending list_id so a strict comparison keeps the lower list on
  * ties — token-for-token the old `ORDER BY cdist DESC, list_id
  * ASC` row_number pick. */
case class NearestListsExpr(child: Expression, listIds: Array[Int],
    centroids: Array[Array[Float]], n: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "nearest_lists"

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: n must be >= 1, got $n")
    else if (listIds.length != centroids.length || listIds.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: ${listIds.length} list ids vs " +
          s"${centroids.length} centroids")
    else child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT>, got $other")
    }

  /** The per-row kernel, shared verbatim by the interpreted and
    * codegen paths (the codegen body is one call on the referenced
    * instance — the [[LshSignKeysExpr]] pattern; the JIT compiles
    * this scalar loop, so nothing is gained by string-templating
    * it). */
  def topLists(v: ArrayData): ArrayData = {
    val kept = math.min(n, listIds.length)
    val bestV = new Array[Double](kept)
    val bestId = new Array[Int](kept)
    var filled = 0
    var ci = 0
    while (ci < centroids.length) {
      val cent = centroids(ci)
      val len = math.min(v.numElements(), cent.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < len) {
        val xi = v.getFloat(i).toDouble
        val yi = cent(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      // + 0.0 normalizes -0.0 to +0.0 (SQL ordering equality);
      // Double.compare then matches the SQL sort incl. NaN greatest
      val s = dot / (math.sqrt(na) * math.sqrt(nb)) + 0.0
      // first index with a STRICTLY smaller score: equal scores keep
      // the earlier (lower) list_id, ids ascending by iteration order
      var p = 0
      while (p < filled && java.lang.Double.compare(s, bestV(p)) <= 0) p += 1
      if (p < kept) {
        var q = math.min(filled, kept - 1)
        while (q > p) { bestV(q) = bestV(q - 1); bestId(q) = bestId(q - 1); q -= 1 }
        bestV(p) = s; bestId(p) = listIds(ci)
        if (filled < kept) filled += 1
      }
      ci += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(bestId, filled))
  }

  override def nullSafeEval(v: Any): Any =
    topLists(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val self = ctx.addReferenceObj("nearestLists", this,
        classOf[NearestListsExpr].getName)
      s"${ev.value} = $self.topLists($v);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest PQ codebook entry of one subvector — argmin over the `ks`
  * entries of subspace `s` by (squared L2 asc, c asc), one per-row
  * kernel over the collected books. Replaces the subvectors × ks
  * broadcast-join fanout whose min_by/first aggregation planned as a
  * SORT aggregate (array-typed buffer) around a full exchange of
  * corpus × m rows — the dominant CPU of every PQ Lloyd round and of
  * the one-time encode (q130/q131 measured 30-40 s of task time per
  * pass at sf0.1). Books are m × ks rows by construction (bounded,
  * exactly what the old plan broadcast); the L2 accumulates in
  * ascending index order (bit-identical doubles across runs),
  * `java.lang.Double.compare` matches the SQL sort (d2 is a
  * non-negative sum, so −0.0 cannot arise; NaN greatest), and
  * entries iterate in ascending c with a strict comparison — the old
  * `min_by(c, struct(d2, c))` pick token for token. */
case class PqNearestCodeExpr(sub: Expression, s: Expression,
    books: Array[Array[Float]], ks: Int)
    extends BinaryExpression {

  override def left: Expression = sub
  override def right: Expression = s
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "pq_nearest_code"

  override def checkInputDataTypes(): TypeCheckResult =
    if (ks < 1 || books.length % ks != 0)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: ${books.length} book entries is not a " +
          s"multiple of ks=$ks")
    else (sub.dataType, s.dataType) match {
      case (ArrayType(FloatType, _), org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<FLOAT>, INT), got ($l, $r)")
    }

  /** Shared interpreted/codegen kernel (see
    * [[NearestListsExpr.topLists]] for the pattern rationale). */
  def nearest(v: ArrayData, subspace: Int): Int = {
    val base = subspace * ks
    var bestC = 0
    var bestD = java.lang.Double.NaN
    var c = 0
    while (c < ks) {
      val cent = books(base + c)
      val len = math.min(v.numElements(), cent.length)
      var acc = 0.0
      var i = 0
      while (i < len) {
        val d = v.getFloat(i).toDouble - cent(i).toDouble
        acc += d * d
        i += 1
      }
      if (c == 0 || java.lang.Double.compare(acc, bestD) < 0) {
        bestD = acc; bestC = c
      }
      c += 1
    }
    bestC
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    nearest(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val self = ctx.addReferenceObj("pqNearest", this,
        classOf[PqNearestCodeExpr].getName)
      s"${ev.value} = $self.nearest($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(sub = newLeft, s = newRight)
}

object VectorExpressions {
  /** Column wrapper for the fused cosine kernel. */
  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarityExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** splitmix64 finalizer — deterministic, engine-independent plane
    * component source (shared with
    * [[graft.operators.Similarity]]'s literal plane vectors). */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Column wrapper for the fused salted-LSH key kernel. */
  def lshSignKeys(vec: Column, planes: Int, tables: Int): Column =
    ColumnBridge.column(LshSignKeysExpr(
      ColumnBridge.expression(vec), planes, tables))

  /** Column wrapper for the top-n nearest-centroid kernel.
    * `centroids` as (list_id, centroid) pairs — sorted by list_id
    * internally so the tie-break contract holds whatever order the
    * caller collected them in. */
  def nearestLists(vec: Column, centroids: Array[(Int, Array[Float])],
      n: Int): Column = {
    val sorted = centroids.sortBy(_._1)
    ColumnBridge.column(NearestListsExpr(ColumnBridge.expression(vec),
      sorted.map(_._1), sorted.map(_._2), n))
  }

  /** Column wrapper for the nearest-PQ-entry kernel. `books` indexed
    * [s*ks + c] (dense by the trainPqBooks ks-per-subspace
    * invariant). */
  def pqNearestCode(sub: Column, s: Column,
      books: Array[Array[Float]], ks: Int): Column =
    ColumnBridge.column(PqNearestCodeExpr(ColumnBridge.expression(sub),
      ColumnBridge.expression(s), books, ks))
}
