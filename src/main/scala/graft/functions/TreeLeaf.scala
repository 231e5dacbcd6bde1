package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Walk a decision tree to its leaf in one expression: the leaf index
  * a row reaches, or −1 when a null split value or an unseen category
  * stops it. `children` are the split attributes — numeric ones as
  * double, categorical ones as string — addressed by the nodes' `slot`.
  *
  * The tree is flattened into primitive node arrays, so the generated
  * code is one constant-size `while` loop whatever the tree's width:
  * a many-leaf model scores inside a single projection, with no join,
  * no shuffle and no per-level job. Numeric splits compare exactly as
  * Spark's `<=` does (NaN is greater than every number, −0.0 equals
  * 0.0), so the walk agrees with a first-match CASE WHEN over the
  * leaves' conjunctions on every row. */
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
      |${ctx.splitExpressionsWithCurrentInputs(fills, "treeLeafInputs")}
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

  def column(attrs: Seq[Column], tree: Nodes): Column =
    ColumnBridge.column(TreeLeaf(attrs.map(ColumnBridge.expression), tree))
}
