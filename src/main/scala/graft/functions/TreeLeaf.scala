package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Walk a decision tree to its leaf in one expression: the leaf index
  * a row reaches, or −1 when a null split value or an unseen category
  * stops it. `children` are the walk's inputs — numeric attributes as
  * double, categorical ones as string — addressed by the nodes' `slot`.
  *
  * The tree is flattened into primitive node arrays, so the generated
  * code is one constant-size `while` loop whatever the tree's width:
  * a many-leaf model scores inside a single projection, with no join,
  * no shuffle and no per-level job. Numeric splits compare exactly as
  * Spark's `<=` does (NaN is greater than every number, −0.0 equals
  * 0.0), so the walk agrees with a first-match CASE WHEN over the
  * leaves' conjunctions on every row.
  *
  * Two callers. Models with more than `C45Model.FlatMaxLeaves` leaves
  * score through it (`C45Model.transform`, `transformProba`,
  * `C45Pruning`'s leaf counts). Every level of every fit routes
  * through it (`C45.frontierRidColumn`): there the leaves are the open
  * rules, every attribute is an input, and the node arrays are
  * reference objects, so each level generates the same code and reuses
  * the first level's compiled class. The same node arrays also drive
  * [[TreeVote]], every model's fractional vote. */
case class TreeLeaf(children: Seq[Expression], tree: TreeLeaf.Nodes)
  extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_tree_leaf"

  @transient private lazy val slots: Array[Expression] = children.toArray

  override def eval(input: InternalRow): Any = {
    var node = 0
    while (tree.kind(node) != TreeLeaf.Leaf) {
      val v = slots(tree.slot(node)).eval(input)
      if (v == null) return -1
      if (tree.kind(node) == TreeLeaf.Num) {
        node =
          if (SQLOrderingUtil.compareDoubles(v.asInstanceOf[Double], tree.boundary(node)) <= 0)
            tree.left(node)
          else tree.right(node)
      } else {
        val next = tree.cats(node).get(v)
        if (next == null) return -1
        node = next.intValue
      }
    }
    tree.leaf(node)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (num, str, isNull, fills) = TreeLeaf.genInputs(ctx, children)
    val kind = ctx.addReferenceObj("treeKind", tree.kind, "byte[]")
    val slot = ctx.addReferenceObj("treeSlot", tree.slot, "int[]")
    val bound = ctx.addReferenceObj("treeBound", tree.boundary, "double[]")
    val left = ctx.addReferenceObj("treeLeft", tree.left, "int[]")
    val right = ctx.addReferenceObj("treeRight", tree.right, "int[]")
    val cats = ctx.addReferenceObj("treeCats", tree.cats, "java.util.HashMap[]")
    val leaf = ctx.addReferenceObj("treeLeaf", tree.leaf, "int[]")
    val node = ctx.freshName("node")
    val s = ctx.freshName("slot")
    val next = ctx.freshName("next")
    ev.copy(isNull = FalseLiteral, code = code"""
      |$fills
      |int ${ev.value} = -1;
      |int $node = 0;
      |while (true) {
      |  if ($kind[$node] == ${TreeLeaf.Leaf}) { ${ev.value} = $leaf[$node]; break; }
      |  int $s = $slot[$node];
      |  if ($isNull[$s]) break;
      |  if ($kind[$node] == ${TreeLeaf.Num}) {
      |    $node = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(
      |      $num[$s], $bound[$node]) <= 0 ? $left[$node] : $right[$node];
      |  } else {
      |    Object $next = $cats[$node].get($str[$s]);
      |    if ($next == null) break;
      |    $node = ((Integer) $next).intValue();
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Quinlan's fractional vote for unknown values (C4.5, 1993, ch. 4) in
  * one expression: per class, the summed weight of the leaves a row
  * reaches when a null split value descends every child. Inputs are
  * [[TreeLeaf]]'s; the walk itself is [[TreeLeaf.Vote.apply]], which
  * the interpreted and the generated path both call. */
case class TreeVote(children: Seq[Expression], vote: TreeLeaf.Vote) extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_tree_vote"

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val num = new Array[Double](n)
    val str = new Array[UTF8String](n)
    val isNull = new Array[Boolean](n)
    children.zipWithIndex.foreach { case (c, i) =>
      c.eval(input) match {
        case null => isNull(i) = true
        case d: Double => num(i) = d
        case u: UTF8String => str(i) = u
      }
    }
    vote(num, str, isNull)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (num, str, isNull, fills) = TreeLeaf.genInputs(ctx, children)
    val v = ctx.addReferenceObj("treeVote", vote, classOf[TreeLeaf.Vote].getName)
    ev.copy(isNull = FalseLiteral, code = code"""
      |$fills
      |ArrayData ${ev.value} = $v.apply($num, $str, $isNull);
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object TreeLeaf {
  val Leaf: Byte = 0
  val Num: Byte = 1
  val Cat: Byte = 2

  /** A tree as arrays indexed by node id, the root at 0. `kind` is
    * [[Leaf]], [[Num]] (`value <= boundary` goes `left`, otherwise
    * `right`) or [[Cat]] (`cats` maps the value to the child).
    * `slot` is the split attribute's child position, `leaf` a leaf
    * node's output index. Unused entries of a node's kind are ignored. */
  final class Nodes(val kind: Array[Byte], val slot: Array[Int],
                    val boundary: Array[Double], val left: Array[Int],
                    val right: Array[Int],
                    val cats: Array[java.util.HashMap[UTF8String, Integer]],
                    val leaf: Array[Int]) extends Serializable {
    override def toString: String = s"tree(${kind.length} nodes)"
  }

  /** The fractional walk over `tree`. `share(n)` is node n's
    * multiplier under a null split value: its training-mass share of
    * its parent. `leafClass` maps a leaf's output index to its class
    * position among `classes`. */
  final class Vote(val tree: Nodes, val share: Array[Double], val leafClass: Array[Int],
                   val classes: Int) extends Serializable {
    override def toString: String = s"vote($tree, $classes classes)"

    /** Per-class vote of one row whose inputs are `num`/`str` (unset
      * where `isNull`). A child's weight is its parent's, or its
      * parent's times its share on every child of a null split value;
      * the root's is 1. A not-taken branch, an unseen category and a
      * zero weight die, which is exact: every weight is >= 0. Each
      * class sums its leaves' weights in leaf-index order. */
    def apply(num: Array[Double], str: Array[UTF8String], isNull: Array[Boolean]): ArrayData = {
      val out = new Array[Double](classes)
      // one path at weight 1 until the first null split value
      var node = 0
      while (node >= 0 && tree.kind(node) != Leaf && !isNull(tree.slot(node)))
        node = step(node, num, str)
      if (node >= 0) {
        if (tree.kind(node) != Leaf) fanOut(node, num, str, isNull, out)
        else if (tree.leaf(node) >= 0) out(leafClass(tree.leaf(node))) = 1.0
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    /** The child a known split value takes at internal `node`, −1 for
      * an unseen category. Numbers compare as Spark's `<=` does. */
    private def step(node: Int, num: Array[Double], str: Array[UTF8String]): Int = {
      val s = tree.slot(node)
      if (tree.kind(node) == Num) {
        if (SQLOrderingUtil.compareDoubles(num(s), tree.boundary(node)) <= 0) tree.left(node)
        else tree.right(node)
      } else {
        val next = tree.cats(node).get(str(s))
        if (next == null) -1 else next.intValue
      }
    }

    private def fanOut(from: Int, num: Array[Double], str: Array[UTF8String],
                       isNull: Array[Boolean], out: Array[Double]): Unit = {
      val stack = scala.collection.mutable.Stack.empty[(Int, Double)]
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      stack.push((from, 1.0))
      while (stack.nonEmpty) {
        val (node, w) = stack.pop()
        if (tree.kind(node) == Leaf) {
          if (tree.leaf(node) >= 0) hits += ((tree.leaf(node), w))
        } else if (isNull(tree.slot(node))) {
          val kids =
            if (tree.kind(node) == Num) Iterator(tree.left(node), tree.right(node))
            else tree.cats(node).values.iterator.asScala.map(_.intValue)
          kids.foreach { c =>
            val cw = w * share(c)
            if (cw > 0) stack.push((c, cw))
          }
        } else {
          val next = step(node, num, str)
          if (next >= 0) stack.push((next, w))
        }
      }
      hits.sortInPlaceBy(_._1).foreach { case (l, w) => out(leafClass(l)) += w }
    }
  }

  /** Each child evaluated into slot i of three arrays — the number,
    * the string and whether it is null — as generated fill code. */
  private[functions] def genInputs(ctx: CodegenContext, children: Seq[Expression])
      : (String, String, String, String) = {
    val n = children.length
    val num = ctx.addMutableState("double[]", "treeNum", v => s"$v = new double[$n];")
    val str = ctx.addMutableState("UTF8String[]", "treeStr", v => s"$v = new UTF8String[$n];")
    val isNull = ctx.addMutableState("boolean[]", "treeNull", v => s"$v = new boolean[$n];")
    val fills = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      val target = if (c.dataType == DoubleType) num else str
      s"""${e.code}
         |$isNull[$i] = ${e.isNull};
         |if (!${e.isNull}) { $target[$i] = ${e.value}; }""".stripMargin
    }
    (num, str, isNull, ctx.splitExpressionsWithCurrentInputs(fills, "treeLeafInputs"))
  }

  def column(attrs: Seq[Column], tree: Nodes): Column =
    ColumnBridge.column(TreeLeaf(attrs.map(ColumnBridge.expression), tree))

  def voteColumn(attrs: Seq[Column], vote: Vote): Column =
    ColumnBridge.column(TreeVote(attrs.map(ColumnBridge.expression), vote))
}
