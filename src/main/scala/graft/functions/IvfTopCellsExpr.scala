package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: rank ALL IVF centroids against one embedding
  * and return only the top-`limit` cells as
  * `array<struct<cell:bigint, dist2cell:double, cell_rank:int>>`.
  *
  * This replaces the materialized N×k scoring fan-out (explode every
  * (vector, centroid) pair → shuffle → per-vector window sort) that was the
  * slowest point of the engine at the 100× sweep scale: the fan-out
  * relation there is ~N·k narrow rows (tens of GB), and its per-vector
  * ranking sort was pure spill I/O — 52–98 s across same-code sweeps, all
  * for a result that keeps ≤(3+2·MaxBits) rows per vector. Scoring instead
  * runs HERE,
  * per row, against the one-value centroid matrix: no N×k rows ever exist,
  * no shuffle, no sort, no spill — one bounded insertion pass per vector
  * (typ. one compare per cell once the top set saturates). The operator's
  * output is byte-identical to the fan-out formulation because both the
  * dot-product fold order and the ordering comparator are preserved:
  *
  *  - dist2cell = (Σ_i emb[i]·cent[i], summed left-to-right in double,
  *    exactly `graft_dot`'s fold) / (nrm · cnrm);
  *  - ranking = (dist2cell DESC, cell ASC) with Spark's SortOrder double
  *    semantics (NaN greatest, -0.0 == 0.0 — `nanSafeCompareDoubles`), so
  *    cell_rank r here equals row_number() over that window ordering.
  *
  * The centroid matrix arrives as three parallel cell-ascending arrays
  * (cells: array<bigint>, flat row-major centroids: array<float>, norms:
  * array<double>) rather than an array of structs: flat primitive arrays
  * read via direct unsafe accessors with ZERO per-cell wrapper allocations
  * in the hot loop (k·dim getFloat calls/row; an array-of-struct layout
  * allocates 2 views per cell per row — GC pressure at N rows × k cells).
  * The matrix is k·(8+4·dim+8) bytes (~2.8 MB at the ×300 probe's 10k
  * cells; ~178 MB at the MaxBits=16 saturation point) — a
  * dimension table; callers pass it as one scalar subquery value, the
  * same policy as every other one-row statistic in this engine.
  *
  * `limit` must be a positive literal: the output is the serving-cache
  * relation, and a non-foldable cap was exactly the regression the old
  * WindowGroupLimit pin guarded against (cache re-inflating to N×k).
  */
case class IvfTopCells(children: Seq[Expression]) extends Expression {
  // children: embedding, nrm, cells, flat, cnrms, limit
  override def dataType: DataType = IvfTopCells.outType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_ivf_topcells"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.size != 6)
      return TypeCheckResult.TypeCheckFailure(
        s"graft_ivf_topcells takes 6 args (embedding, nrm, cells, flat, cnrms, limit), got ${children.size}")
    val ts = children.map(_.dataType)
    (ts(0), ts(1), ts(2), ts(3), ts(4), ts(5)) match {
      case (ArrayType(FloatType, _), DoubleType, ArrayType(LongType, _),
            ArrayType(FloatType, _), ArrayType(DoubleType, _), IntegerType)
          if children(5).foldable =>
        val lim = children(5).eval()
        if (lim == null || lim.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure("graft_ivf_topcells limit must be a positive literal")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_ivf_topcells requires (array<float>, double, array<bigint>, " +
          s"array<float>, array<double>, int literal), got (${ts.map(_.catalogString).mkString(", ")})")
    }
  }

  override def eval(input: InternalRow): Any = {
    val e = children(0).eval(input)
    val n = children(1).eval(input)
    val cells = children(2).eval(input)
    val flat = children(3).eval(input)
    val cnrms = children(4).eval(input)
    val lim = children(5).eval(input)
    if (e == null || n == null || cells == null || flat == null || cnrms == null || lim == null) null
    else IvfTopCells.compute(
      e.asInstanceOf[ArrayData], n.asInstanceOf[Double], cells.asInstanceOf[ArrayData],
      flat.asInstanceOf[ArrayData], cnrms.asInstanceOf[ArrayData], lim.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = children.map(_.genCode(ctx))
    val anyNull = c.map(_.isNull).mkString(" || ")
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
         |${c(0).code}
         |${c(1).code}
         |${c(2).code}
         |${c(3).code}
         |${c(4).code}
         |${c(5).code}
         |boolean ${ev.isNull} = $anyNull;
         |$ad ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.IvfTopCells.compute(
         |    ${c(0).value}, ${c(1).value}, ${c(2).value}, ${c(3).value}, ${c(4).value}, ${c(5).value});
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): IvfTopCells =
    copy(children = newChildren)
}

object IvfTopCells {
  val outType: DataType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("dist2cell", DoubleType, nullable = false),
    StructField("cell_rank", IntegerType, nullable = false))), containsNull = false)

  /** Spark SortOrder comparison for (dist DESC, cell ASC): is candidate 1
    * strictly better? Matches `nanSafeCompareDoubles` (NaN greatest,
    * `==` for the tie so -0.0 ties 0.0 and the cell id breaks it) — the
    * exact semantics row_number() used in the fan-out formulation. */
  private def better(d1: Double, c1: Long, d2: Double, c2: Long): Boolean = {
    val n1 = java.lang.Double.isNaN(d1)
    val n2 = java.lang.Double.isNaN(d2)
    if (n1 && n2 || d1 == d2) c1 < c2
    else if (n1) true
    else if (n2) false
    else d1 > d2
  }

  /** Public + JVM-friendly signature so generated code can call it. */
  def compute(emb: ArrayData, nrm: Double, cells: ArrayData, flat: ArrayData,
              cnrms: ArrayData, limit: Int): ArrayData = {
    val dim = emb.numElements()
    val k = cells.numElements()
    if (flat.numElements() != k * dim || cnrms.numElements() != k)
      throw new IllegalArgumentException(
        s"graft_ivf_topcells: matrix shape mismatch (k=$k, dim=$dim, " +
          s"flat=${flat.numElements()}, cnrms=${cnrms.numElements()})")
    // one local copy of the embedding: dim getFloat calls instead of k·dim
    val e = new Array[Double](dim)
    var i = 0
    while (i < dim) { e(i) = emb.getFloat(i).toDouble; i += 1 }
    val cap = math.min(limit, k)
    val topD = new Array[Double](cap)
    val topC = new Array[Long](cap)
    var size = 0
    var j = 0
    while (j < k) {
      var s = 0.0
      val base = j * dim
      i = 0
      while (i < dim) { s += e(i) * flat.getFloat(base + i).toDouble; i += 1 }
      val d = s / (nrm * cnrms.getDouble(j))
      val cell = cells.getLong(j)
      if (size < cap || better(d, cell, topD(size - 1), topC(size - 1))) {
        // sorted insert from the tail; the common case once the top set is
        // saturated is the single `better` compare above failing
        var p = if (size < cap) size else cap - 1
        while (p > 0 && better(d, cell, topD(p - 1), topC(p - 1))) {
          topD(p) = topD(p - 1); topC(p) = topC(p - 1); p -= 1
        }
        topD(p) = d; topC(p) = cell
        if (size < cap) size += 1
      }
      j += 1
    }
    val out = new Array[Any](size)
    var r = 0
    while (r < size) { out(r) = InternalRow(topC(r), topD(r), r + 1); r += 1 }
    new GenericArrayData(out)
  }
}
