package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.Bridge

/** Centroid kernels for the IVF / IVF-PQ family (k-means assignment,
  * probe lists, PQ encoding and lookup tables). Each kernel reads a
  * small centroid table collected once on the driver and shipped to the
  * executors once as a broadcast variable, so a nearest-centroid
  * question is one codegen'd pass per row: no cross join against the
  * centroids, no shuffle on the row key, no window over the candidates.
  *
  * Arithmetic contract: every distance is the expression the DataFrame
  * formulation evaluated, in the same IEEE order —
  * `(‖v‖² + ‖c‖²) − 2·dot(v, c)` with the dot summed left to right
  * ([[DotProduct.dot]]) — and candidates order as Spark orders
  * `(d, c_id)` ascending: a null distance first, NaN last, -0.0 equal to
  * 0.0, ties to the smaller `c_id`. A kernel's answer is therefore the
  * row the `min_by` / `row_number` plan picked (the KnnSpec and PqSpec
  * reference specs pin it). */
final class CentroidGroup(val ids: Array[Long], val vecs: Array[Array[Double]])
    extends Serializable {
  require(ids.length == vecs.length)
  /** ‖c‖², as [[DotProduct.dot]] sums it; 0 for a null centroid. */
  val n2: Array[Double] = vecs.map(c => if (c == null) 0.0 else Centroids.dot(c, c))
  def size: Int = ids.length
}

/** The executor-side model: one group for a coarse centroid table, one
  * group per subspace (ordered by code index) for a PQ codebook. */
final class CentroidTable(val groups: Array[CentroidGroup]) extends Serializable

/** A collected centroid table on the driver and its broadcast. */
final class CentroidModel(val table: CentroidTable,
    val shipped: Broadcast[CentroidTable]) {
  /** The ids of group 0 — the `c_id` set of a coarse centroid table. */
  def ids: Array[Long] = table.groups.headOption.map(_.ids).getOrElse(Array.empty)
  def isEmpty: Boolean = table.groups.forall(_.size == 0)
}

object CentroidModel {
  def apply(spark: org.apache.spark.sql.SparkSession,
      groups: Array[CentroidGroup]): CentroidModel = {
    val t = new CentroidTable(groups)
    new CentroidModel(t, spark.sparkContext.broadcast(t))
  }

  private def vec(r: Row, i: Int): Array[Double] =
    if (r.isNullAt(i)) null else r.getSeq[Double](i).toArray

  /** Collect a `(c_id, cv)` centroid frame into a one-group model, ids
    * ascending (a null `c_id` is no centroid; a null `cv` stays, and
    * sorts first as the DataFrame plan sorted its null distance). */
  def of(centroids: DataFrame): CentroidModel = {
    val rows = centroids.select("c_id", "cv").collect()
      .filter(!_.isNullAt(0)).sortBy(_.getLong(0))
    apply(centroids.sparkSession,
      Array(new CentroidGroup(rows.map(_.getLong(0)), rows.map(vec(_, 1)))))
  }

  /** Collect a `(sub_id, c_id, code_idx, cv)` codebook frame into one
    * group per subspace 0..m-1, each ordered by `code_idx`, which must
    * be dense from 0 (the [[graft.similarity.Knn.pqCodebook]] layout). */
  def codebook(codebook: DataFrame): CentroidModel = {
    val rows = codebook.select("sub_id", "c_id", "code_idx", "cv").collect()
    val bySub = rows.groupBy(_.getInt(0))
    val m = if (bySub.isEmpty) 0 else bySub.keys.max + 1
    apply(codebook.sparkSession, Array.tabulate(m) { s =>
      val g = bySub.getOrElse(s, Array.empty[Row]).sortBy(_.getInt(2))
      require(g.map(_.getInt(2)).sameElements(g.indices),
        s"codebook subspace $s: code_idx is not dense from 0")
      new CentroidGroup(g.map(_.getLong(1)), g.map(vec(_, 3)))
    })
  }
}

object Centroids {
  /** Left-to-right dot product, [[DotProduct.dot]]'s order and
    * dimensionality fence. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    if (a.length != b.length) mismatch(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def dot(a: ArrayData, b: Array[Double]): Double = {
    val n = a.numElements()
    if (b.length != n) mismatch(n, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b(i); i += 1 }
    s
  }

  private def mismatch(a: Int, b: Int): Nothing =
    throw new IllegalArgumentException(
      s"dot_product dimensionality mismatch: $a vs $b")

  /** Spark's ascending order of a nullable double: null first, NaN
    * last, -0.0 == 0.0. */
  def cmp(an: Boolean, a: Double, bn: Boolean, b: Double): Int =
    if (an || bn) { if (an && bn) 0 else if (an) -1 else 1 }
    else if (a == b) 0
    else java.lang.Double.compare(a, b)

  /** The codegen handle of a broadcast table: read once per generated
    * class on the executor, not once per row. */
  private[functions] def tableRef(ctx: CodegenContext,
      model: Broadcast[CentroidTable]): String = {
    val ref = ctx.addReferenceObj("centroidModel", model,
      classOf[Broadcast[_]].getName)
    val cls = classOf[CentroidTable].getName
    ctx.addMutableState(cls, "centroids",
      v => s"$v = ($cls) $ref.value();", forceInline = true)
  }

  /** Slice subvector `j` of `v` (width `w`) divided by `nrm` into `out` —
    * [[graft.similarity.Knn]]'s slice-then-normalize arithmetic. */
  def subvector(v: ArrayData, j: Int, w: Int, nrm: Double,
      out: Array[Double]): Unit = {
    var i = 0
    while (i < w) { out(i) = v.getDouble(j * w + i) / nrm; i += 1 }
  }

  /** Subvector width for an m-way split; the PQ dimensionality fence. */
  def subWidth(v: ArrayData, m: Int, t: CentroidTable): Int = {
    val n = v.numElements()
    if (m <= 0 || n % m != 0)
      throw new IllegalArgumentException(
        s"pq: dimensionality $n not divisible by m=$m subspaces — a " +
          "truncating slice would silently drop trailing dimensions")
    if (t.groups.length != m)
      throw new IllegalArgumentException(
        s"pq: codebook has ${t.groups.length} subspaces, not m=$m")
    n / m
  }
}

/** The `n` nearest centroids of `v` in group `group` of the model, as
  * `c_id`s ordered by (distance, `c_id`): d = (vn2 + ‖c‖²) − 2·dot(v, c),
  * where the caller passes vn2 (`nrm·nrm` for a coarse table, the
  * subvector's own squared norm for a codebook round). With n = 1 this
  * is the assignment; with n = nprobe, the probe list. A null `v` has a
  * null distance to every centroid and gets the first n ids. */
case class NearestCentroids(v: Expression, vn2: Expression,
    group: Expression, model: Broadcast[CentroidTable], n: Int)
    extends TernaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def first: Expression = v
  override def second: Expression = vn2
  override def third: Expression = group
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override def eval(input: InternalRow): Any = {
    val a = v.eval(input)
    val s = vn2.eval(input)
    NearestCentroids.nearest(model.value, group.eval(input).asInstanceOf[Int],
      if (a == null || s == null) null else a.asInstanceOf[ArrayData],
      if (s == null) 0.0 else s.asInstanceOf[Double], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = Centroids.tableRef(ctx, model)
    val a = v.genCode(ctx)
    val s = vn2.genCode(ctx)
    val g = group.genCode(ctx)
    ev.copy(code = code"""
      |${a.code}
      |${s.code}
      |${g.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.NearestCentroids.nearest($t, ${g.value},
      |    (${a.isNull} || ${s.isNull}) ? null : ${a.value}, ${s.value}, $n);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearestCentroids =
    copy(v = newFirst, vn2 = newSecond, group = newThird)
}

object NearestCentroids {
  /** Called from generated code. */
  def nearest(t: CentroidTable, group: Int, v: ArrayData, vn2: Double,
      n: Int): ArrayData = {
    val g = t.groups(group)
    val take = math.min(n, g.size)
    // the `take` best candidates so far, (d, c_id)-ascending; ids are
    // ascending in the group, so a later candidate never passes an
    // equal-distance earlier one: ties go to the smaller c_id
    val best = new Array[Int](take)
    val bd = new Array[Double](take)
    val dNull = v == null
    var filled = 0
    var c = 0
    while (c < g.size) {
      val cv = g.vecs(c)
      val isNull = dNull || cv == null
      val d = if (isNull) 0.0 else vn2 + g.n2(c) - 2.0 * Centroids.dot(v, cv)
      var i = filled
      while (i > 0 && Centroids.cmp(isNull, d, bnull(g, best(i - 1), dNull),
          bd(i - 1)) < 0) i -= 1
      if (i < take) {
        var j = math.min(filled, take - 1)
        while (j > i) { best(j) = best(j - 1); bd(j) = bd(j - 1); j -= 1 }
        best(i) = c
        bd(i) = d
        if (filled < take) filled += 1
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(best.map(g.ids(_)))
  }

  private def bnull(g: CentroidGroup, c: Int, dNull: Boolean): Boolean =
    dNull || g.vecs(c) == null

  /** The `n` nearest `c_id`s of each row's (v, nrm) in a coarse model. */
  def apply(v: Column, nrm: Column, model: CentroidModel, n: Int): Column =
    Bridge.column(NearestCentroids(Bridge.expression(v),
      Bridge.expression(nrm * nrm), Literal(0), model.shipped, n))

  /** The nearest `c_id` (the assignment); the model must not be empty. */
  def nearest(v: Column, nrm: Column, model: CentroidModel): Column =
    apply(v, nrm, model, 1).getItem(0)

  /** The nearest `c_id` of a subvector (sv, sv2 = ‖sv‖²) in codebook
    * group `subId` — one PQ Lloyd round's assignment. */
  def inGroup(sv: Column, sv2: Column, subId: Column,
      model: CentroidModel): Column =
    Bridge.column(NearestCentroids(Bridge.expression(sv),
      Bridge.expression(sv2), Bridge.expression(subId), model.shipped, 1))
      .getItem(0)
}

/** Elementwise mean of `array<double>` rows: an elementwise sum plus a
  * count, finished as sum / count — `avg`'s arithmetic per position.
  * Null rows are skipped; a group of only nulls is null. Rows must share
  * one length (a mixed group raises, as the dot kernels do). The
  * partial buffer is one vector per group, so a Lloyd round ships one
  * row per (centroid × input partition) instead of one per element. */
case class VectorMean(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VectorMean.Acc] {

  import VectorMean.Acc

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vector_mean"

  override def createAggregationBuffer(): Acc = new Acc(null, 0L)

  override def update(buf: Acc, input: InternalRow): Acc = {
    val a = child.eval(input).asInstanceOf[ArrayData]
    if (a != null) {
      val n = a.numElements()
      if (buf.sum == null) buf.sum = new Array[Double](n)
      else if (buf.sum.length != n)
        throw new IllegalArgumentException(
          s"vector_mean dimensionality mismatch: ${buf.sum.length} vs $n")
      var i = 0
      while (i < n) { buf.sum(i) += a.getDouble(i); i += 1 }
      buf.count += 1L
    }
    buf
  }

  override def merge(a: Acc, b: Acc): Acc = {
    if (b.sum != null) {
      if (a.sum == null) a.sum = new Array[Double](b.sum.length)
      else if (a.sum.length != b.sum.length)
        throw new IllegalArgumentException(
          s"vector_mean dimensionality mismatch: ${a.sum.length} vs " +
            s"${b.sum.length}")
      var i = 0
      while (i < b.sum.length) { a.sum(i) += b.sum(i); i += 1 }
      a.count += b.count
    }
    a
  }

  override def eval(buf: Acc): Any =
    if (buf.count == 0L) null
    else UnsafeArrayData.fromPrimitiveArray(buf.sum.map(_ / buf.count.toDouble))

  override def serialize(buf: Acc): Array[Byte] = {
    val n = if (buf.sum == null) -1 else buf.sum.length
    val bb = ByteBuffer.allocate(12 + 8 * math.max(n, 0))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(buf.count).putInt(n)
    if (n > 0) buf.sum.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Acc = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val count = bb.getLong()
    val n = bb.getInt()
    new Acc(if (n < 0) null else Array.fill(n)(bb.getDouble()), count)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMean =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMean =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorMean =
    copy(child = newChildren.head)
}

object VectorMean {
  final class Acc(var sum: Array[Double], var count: Long)

  def apply(v: Column): Column =
    Bridge.column(VectorMean(Bridge.expression(v)).toAggregateExpression())
}

/** PQ codes of a vector: for each of the `m` subspaces, the code index
  * (position in the codebook group, ordered by `c_id`) of the nearest
  * codebook centroid to the normalized subvector — slice `v`, divide by
  * `nrm`, d = (‖sv‖² + ‖c‖²) − 2·dot(sv, c), ties to the smaller `c_id`.
  * Raises the "not divisible" fence when m does not divide the
  * dimensionality. */
case class PqEncode(v: Expression, nrm: Expression,
    model: Broadcast[CentroidTable], m: Int) extends BinaryExpression {
  override def left: Expression = v
  override def right: Expression = nrm
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqEncode.encode(model.value, a.asInstanceOf[ArrayData],
      b.asInstanceOf[Double], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = Centroids.tableRef(ctx, model)
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PqEncode.encode($t, $a, $b, $m)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(v = newLeft, nrm = newRight)
}

object PqEncode {
  /** Called from generated code. */
  def encode(t: CentroidTable, v: ArrayData, nrm: Double, m: Int): ArrayData = {
    val w = Centroids.subWidth(v, m, t)
    val sv = new Array[Double](w)
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      Centroids.subvector(v, j, w, nrm, sv)
      val sv2 = Centroids.dot(sv, sv)
      val g = t.groups(j)
      if (g.size == 0)
        throw new IllegalArgumentException(s"pq: empty codebook subspace $j")
      var best = 0
      var bd = 0.0
      var c = 0
      while (c < g.size) {
        val d = sv2 + g.n2(c) - 2.0 * Centroids.dot(sv, g.vecs(c))
        if (c == 0 || Centroids.cmp(false, d, false, bd) < 0) {
          best = c
          bd = d
        }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  def apply(v: Column, nrm: Column, codebook: CentroidModel, m: Int): Column =
    Bridge.column(PqEncode(Bridge.expression(v), Bridge.expression(nrm),
      codebook.shipped, m))
}

/** The flattened ADC lookup table of a query vector:
  * `lut[sub·ksub + code_idx] = dot(sv_sub, c)` over the normalized
  * subvectors — the layout [[PqAdcScore]] reads. Every subspace must
  * hold the same ksub centroids (the codebook's uniform layout). */
case class PqLut(v: Expression, nrm: Expression,
    model: Broadcast[CentroidTable], m: Int) extends BinaryExpression {
  override def left: Expression = v
  override def right: Expression = nrm
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqLut.lut(model.value, a.asInstanceOf[ArrayData], b.asInstanceOf[Double], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = Centroids.tableRef(ctx, model)
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PqLut.lut($t, $a, $b, $m)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqLut =
    copy(v = newLeft, nrm = newRight)
}

object PqLut {
  /** Called from generated code. */
  def lut(t: CentroidTable, v: ArrayData, nrm: Double, m: Int): ArrayData = {
    val w = Centroids.subWidth(v, m, t)
    val ksub = t.groups(0).size
    if (t.groups.exists(_.size != ksub))
      throw new IllegalArgumentException(
        s"pq: non-uniform codebook sizes ${t.groups.map(_.size).mkString(",")}")
    val sv = new Array[Double](w)
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      Centroids.subvector(v, j, w, nrm, sv)
      val g = t.groups(j)
      var c = 0
      while (c < ksub) { out(j * ksub + c) = Centroids.dot(sv, g.vecs(c)); c += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def apply(v: Column, nrm: Column, codebook: CentroidModel, m: Int): Column =
    Bridge.column(PqLut(Bridge.expression(v), Bridge.expression(nrm),
      codebook.shipped, m))
}
