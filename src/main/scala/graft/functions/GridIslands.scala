package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst island decomposition of one fixed 8×8 pixel grid
  * (optimization round 16, the `graft_dot` pattern applied to P2).
  *
  * Input: the 64-element `array<boolean>` kept-mask of one image (the
  * tailcut clean's output). Output: one struct —
  *
  *   (n_islands, n_kept, largest_size, largest_px), all BIGINT,
  *
  * where islands are 4-neighbor connected components of the kept cells,
  * an island's label is its minimum pixel index, `largest_*` describes
  * the largest island with ties to the smallest label — EXACTLY the
  * relation the global star-CC formulation produced per image (component
  * root ≡ vec_id·64 + min pixel; the tie order isl_size·10¹² − comp is
  * the (size desc, label asc) order used here).
  *
  * Why it exists: islands can never cross images, so a corpus-wide
  * star-CC join loop (≈20 Spark jobs with checkpoint barriers) or an
  * interpreted 63-round HOF label propagation (measured 55 s at sf0.1 —
  * lambda dispatch per cell per round) are both the wrong shape; one
  * union-find over 64 cells inlined into the scan's generated code costs
  * ~1 µs per row and keeps the operator a pure map over the corpus. The
  * sequential union-find is exact, not iterative — no convergence
  * parameter at all.
  *
  * Null handling: a NULL array yields NULL; NULL elements count as
  * not-kept (the clean never produces them).
  */
case class GridIslands(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GridIslands.OutType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(BooleanType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_grid_islands needs array<boolean>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    GridIslands.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GridIslands.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): GridIslands =
    copy(child = newChild)

  override def prettyName: String = "graft_grid_islands"
}

object GridIslands {
  private val Side = 8
  private val Cells = Side * Side

  val OutType: StructType = StructType(Seq(
    StructField("n_islands", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("largest_size", LongType, nullable = false),
    StructField("largest_px", LongType, nullable = false)))

  /** Union-find over the 64-cell grid; called from generated code. */
  def compute(kept: ArrayData): InternalRow = {
    val n = math.min(Cells, kept.numElements())
    val k = new Array[Boolean](Cells)
    var i = 0
    while (i < n) {
      k(i) = !kept.isNullAt(i) && kept.getBoolean(i)
      i += 1
    }
    val parent = new Array[Int](Cells)
    i = 0
    while (i < Cells) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    // union by MIN label so every root is its island's minimum pixel
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    i = 0
    while (i < Cells) {
      if (k(i)) {
        if (i % Side != Side - 1 && k(i + 1)) union(i, i + 1) // right
        if (i < Cells - Side && k(i + Side)) union(i, i + Side) // down
      }
      i += 1
    }
    val size = new Array[Long](Cells)
    var nKept = 0L
    i = 0
    while (i < Cells) {
      if (k(i)) { size(find(i)) += 1L; nKept += 1L }
      i += 1
    }
    var nIslands = 0L
    var bestSize = 0L
    var bestPx = 0L
    i = 0
    while (i < Cells) {
      if (size(i) > 0L) { // i is a root (its own island's min pixel)
        nIslands += 1L
        if (size(i) > bestSize) { bestSize = size(i); bestPx = i.toLong }
        // ties keep the earlier (smaller) root — i ascends
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nIslands, nKept, bestSize, bestPx))
  }
}
