package graft.functions

import graft.core.{Kernels, WoeBin}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** One variable's bin chain: the cuts and labels of the complete bins,
  * reversed when the bins descend, with `<=` comparisons for descending
  * (right-closed) chains and `<` for ascending (left-closed) ones.
  * [[leaf]] is the one place that holds the chain's comparisons: the
  * transform's [[WoeLookup]] and its imputation pass
  * (`WoeBinningModel.imputationValues`) both call it.
  */
private[graft] final case class WoeChain(
    cuts: Array[Double],
    labels: Array[Double],
    rightClosed: Boolean) {

  /** The leaf the chain sends non-missing `v` to: the first condition
    * `v < cuts(k + 1)` (or `<=`) that holds, else the last label.
    * Plain JVM comparisons agree with Spark's double ordering on
    * non-NaN values, −0.0 == 0.0 included.
    */
  def leaf(v: Double): Int = {
    val last = labels.length - 1
    var k = 0
    while (k < last) {
      if (if (rightClosed) v <= cuts(k + 1) else v < cuts(k + 1)) return k
      k += 1
    }
    last
  }
}

private[graft] object WoeChain {
  def apply(bs: Vector[WoeBin]): WoeChain = {
    val complete = bs.filter(Kernels.isCompleteRow)
    val cuts = (complete.map(_.intervalStartInclude) :+ complete.last.intervalEndExclude).toArray
    val labels = complete.map(_.woe).toArray
    if (cuts.head > cuts.last) WoeChain(cuts.reverse, labels.reverse, rightClosed = true)
    else WoeChain(cuts, labels, rightClosed = false)
  }
}

/** The WoE label of one cell (binning.py:283-303): a null or NaN input
  * takes `imputed`, a NaN value after imputation (an all-missing apply
  * column) gives NaN as pandas' `cut` does, and any other value gets
  * the label of its leaf in `chain`.
  *
  * Why an Expression and not a `when`-chain: a chain compiles to one
  * branch per bin, and whole-stage codegen inlines every variable's
  * chain into one generated method.  Twelve variables of 8–12 bins made
  * that method 17,439 bytes of bytecode, over HotSpot's 8000-byte limit
  * for JIT compilation (`DontCompileHugeMethods`), so every scored row
  * ran in the interpreter.  This expression ships the chain once per
  * task as a referenced object and makes one static call per cell; the
  * same model's largest generated method is 928 bytes.
  */
case class WoeLookup(child: Expression, chain: WoeChain, imputed: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_woe_lookup"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"${chain.labels.length} leaves", imputed)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double input, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WoeLookup.lookup(true, 0.0, chain, imputed)
    else WoeLookup.lookup(false, v.asInstanceOf[Double], chain, imputed)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val chainRef = ctx.addReferenceObj("woeChain", chain, classOf[WoeChain].getName)
    // exact bits: a Java double literal cannot spell NaN, ±inf or -0.0
    val imp = s"java.lang.Double.longBitsToDouble(" +
      s"${java.lang.Double.doubleToRawLongBits(imputed)}L)"
    val fn = s"${WoeLookup.getClass.getName.stripSuffix("$")}.lookup"
    ev.copy(code = code"""
      ${c.code}
      double ${ev.value} = $fn(${c.isNull}, ${c.value}, $chainRef, $imp);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WoeLookup =
    copy(child = newChild)
}

object WoeLookup {
  /** Static helper the generated code and [[WoeLookup.eval]] call. */
  def lookup(isNull: Boolean, v: Double, chain: WoeChain, imputed: Double): Double = {
    val base = if (isNull || v.isNaN) imputed else v
    if (base.isNaN) Double.NaN else chain.labels(chain.leaf(base))
  }

  /** Column builder. */
  def apply(c: Column, chain: WoeChain, imputed: Double): Column =
    ColumnBridge.column(WoeLookup(ColumnBridge.expression(c), chain, imputed))
}
