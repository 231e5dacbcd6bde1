package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Walk a decision tree to its leaf in one expression: the leaf index
  * a row reaches, or −1 when a null split value or an unseen category
  * stops it. `children` are the walk's inputs — numeric attributes as
  * double, categorical ones as string — addressed by the nodes' `slot`.
  *
  * The tree is flattened into primitive node arrays, so the walk
  * ([[TreeLeaf.Nodes.leafOf]], which the interpreted and the generated
  * path both call) is one constant-size loop whatever the tree's width:
  * a many-leaf model scores inside a single projection, with no join,
  * no shuffle and no per-level job. Numeric splits compare exactly as
  * Spark's `<=` does (NaN is greater than every number, −0.0 equals
  * 0.0), so the walk agrees with a first-match CASE WHEN over the
  * leaves' conjunctions on every row.
  *
  * Two callers. Models with more than `C45Model.FlatMaxLeaves` leaves
  * score through it (`C45Model.transform`, `transformProba`,
  * `C45Pruning`'s leaf counts). Every level of a fit whose rows do not
  * fan out routes through it (`C45.frontierRidColumn`): there the
  * leaves are the open rules, every attribute is an input, and the
  * tree is a reference object, so each level generates the same code
  * and reuses the first level's compiled class. The same node arrays
  * also drive [[TreeWalk]]: every model's fractional vote, and every
  * level of a fit whose null values fan out. A small fit's levels call
  * [[TreeLeaf.Nodes.leafOf]] and [[TreeLeaf.Fans]] in the driver on
  * collected rows (`graft.fit.LocalHistogram`). */
case class TreeLeaf(children: Seq[Expression], tree: TreeLeaf.Nodes)
  extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_tree_leaf"

  override def eval(input: InternalRow): Any = {
    val (num, str, isNull) = TreeLeaf.evalInputs(children, input)
    tree.leafOf(num, str, isNull)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (num, str, isNull, fills) = TreeLeaf.genInputs(ctx, children)
    val t = ctx.addReferenceObj("tree", tree, classOf[TreeLeaf.Nodes].getName)
    ev.copy(isNull = FalseLiteral, code = code"""
      |$fills
      |int ${ev.value} = $t.leafOf($num, $str, $isNull);
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** One row's walk of a tree that answers with an array: Quinlan's
  * fractional vote ([[TreeLeaf.Vote]], `graft_tree_vote`) or a
  * fractional fit level's weighted copies ([[TreeLeaf.Fans]],
  * `graft_tree_fan`). `weights` are long inputs besides the
  * attributes (null reads as 0); `inputs` are [[TreeLeaf]]'s. The
  * interpreted and the generated path both call `walk.apply`, each
  * with a [[TreeLeaf.Work]] of its own. */
case class TreeWalk(weights: Seq[Expression], inputs: Seq[Expression], walk: TreeLeaf.Walk)
  extends Expression {

  override def children: Seq[Expression] = weights ++ inputs
  override def nullable: Boolean = false
  override def dataType: DataType = walk.dataType
  override def prettyName: String = walk.name

  override def eval(input: InternalRow): Any = {
    val (num, str, isNull) = TreeLeaf.evalInputs(inputs, input)
    val w = weights.map(e => Option(e.eval(input)).fold(0L)(_.asInstanceOf[Long])).toArray
    walk(w, num, str, isNull, new TreeLeaf.Work)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (num, str, isNull, fills) = TreeLeaf.genInputs(ctx, inputs)
    val w = ctx.addMutableState("long[]", "treeWeights", v => s"$v = new long[${weights.size}];")
    val wFills = ctx.splitExpressionsWithCurrentInputs(weights.zipWithIndex.map { case (e, i) =>
      val c = e.genCode(ctx)
      s"""${c.code}
         |$w[$i] = ${c.isNull} ? 0L : ${c.value};""".stripMargin
    }, "treeWalkWeights")
    val f = ctx.addReferenceObj("treeWalk", walk, classOf[TreeLeaf.Walk].getName)
    val work = classOf[TreeLeaf.Work].getName
    val wk = ctx.addMutableState(work, "treeWork", v => s"$v = new $work();")
    ev.copy(isNull = FalseLiteral, code = code"""
      |$fills
      |$wFills
      |ArrayData ${ev.value} = $f.apply($w, $num, $str, $isNull, $wk);
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(weights = newChildren.take(weights.size), inputs = newChildren.drop(weights.size))
}

object TreeLeaf {
  val Leaf: Byte = 0
  val Num: Byte = 1
  val Cat: Byte = 2

  /** A tree as arrays indexed by node id, the root at 0. `kind` is
    * [[Leaf]], [[Num]] (`value <= boundary` goes `left`, otherwise
    * `right`) or [[Cat]] (`cats` maps the value to the child).
    * `slot` is the split attribute's child position, `leaf` a leaf
    * node's output index, `share` a node's multiplier under a null
    * split value at its parent (its share of the parent's mass; the
    * fan-out walks read it). Unused entries of a node's kind are
    * ignored. */
  final class Nodes(val kind: Array[Byte], val slot: Array[Int],
                    val boundary: Array[Double], val left: Array[Int],
                    val right: Array[Int],
                    val cats: Array[java.util.HashMap[UTF8String, Integer]],
                    val leaf: Array[Int], val share: Array[Double]) extends Serializable {
    override def toString: String = s"tree(${kind.length} nodes)"

    /** Each node's children, which a null split value descends: both
      * sides of a numeric split, every mapped category of a
      * categorical one. */
    val kids: Array[Array[Int]] = kind.indices.map { n =>
      if (kind(n) == Num) Array(left(n), right(n))
      else if (kind(n) == Cat) cats(n).values.asScala.map(_.intValue).toArray
      else Array.emptyIntArray
    }.toArray

    /** The leaf output a row reaches, −1 where a null split value or
      * an unseen category stops it: [[TreeLeaf]]'s walk. */
    def leafOf(num: Array[Double], str: Array[UTF8String], isNull: Array[Boolean]): Int = {
      val node = descend(num, str, isNull)
      if (node < 0 || kind(node) != Leaf) -1 else leaf(node)
    }

    /** Where a row's known split values lead from the root: a leaf, the
      * first node whose split value is null, or −1 at an unseen
      * category. */
    def descend(num: Array[Double], str: Array[UTF8String], isNull: Array[Boolean]): Int = {
      var node = 0
      while (node >= 0 && kind(node) != Leaf && !isNull(slot(node))) node = step(node, num, str)
      node
    }

    /** The child a known split value takes at internal `node`, −1 for
      * an unseen category. Numbers compare as Spark's `<=` does. */
    def step(node: Int, num: Array[Double], str: Array[UTF8String]): Int = {
      val s = slot(node)
      if (kind(node) == Num) {
        if (SQLOrderingUtil.compareDoubles(num(s), boundary(node)) <= 0) left(node) else right(node)
      } else {
        val next = cats(node).get(str(s))
        if (next == null) -1 else next.intValue
      }
    }

    /** The fan-out walk of one row from node `from` ([[descend]]'s
      * answer), carrying a positive Long per copy (`start` at `from`):
      * a known split value passes a copy on to one child, a null one to
      * every child `c` as `down(value, c)`. A not-taken branch, an
      * unseen category, a closed branch (leaf −1) and a value `down`
      * makes 0 end a copy. Writes each (leaf, value) a copy ends with
      * to `work`'s hits from position `at`; returns the position after
      * the last. */
    def fanOut(from: Int, start: Long, num: Array[Double], str: Array[UTF8String],
               isNull: Array[Boolean], work: Work, at: Int, down: (Long, Int) => Long): Int = {
      val (node, value) = (work.node, work.value)
      var hits = at
      var top = if (from < 0) 0 else 1
      node(0) = from; value(0) = start
      while (top > 0) {
        top -= 1
        val n = node(top)
        val v = value(top)
        if (kind(n) == Leaf) {
          if (leaf(n) >= 0) { work.hit(hits) = leaf(n); work.hitValue(hits) = v; hits += 1 }
        } else if (isNull(slot(n))) {
          val ks = kids(n)
          var k = 0
          while (k < ks.length) {
            val cv = down(v, ks(k))
            if (cv > 0) { node(top) = ks(k); value(top) = cv; top += 1 }
            k += 1
          }
        } else {
          val next = step(n, num, str)
          if (next >= 0) { node(top) = next; value(top) = v; top += 1 }
        }
      }
      hits
    }
  }

  /** Scratch for [[Nodes.fanOut]]: a stack of (node, value) and the
    * leaves reached. The caller owns one per thread — generated code
    * keeps one per generated class, `eval` makes one per call — and
    * each walk grows it to its trees, so a row allocates nothing but
    * its result. */
  final class Work {
    private[functions] var node, hit, hitModel = Array.emptyIntArray
    private[functions] var value, hitValue = Array.emptyLongArray
    private[functions] var weight, out = Array.emptyDoubleArray

    /** Room for walks over `nodes` nodes in all: no stack, leaf index
      * or hit count can exceed it. */
    private[functions] def reserve(nodes: Int): Unit =
      if (node.length < nodes) {
        node = new Array(nodes); hit = new Array(nodes); hitModel = new Array(nodes)
        value = new Array(nodes); hitValue = new Array(nodes); weight = new Array(nodes)
      }
  }

  /** A [[TreeWalk]]'s answer per row, from its `weights` `w` and
    * its inputs `num`/`str` (unset where `isNull`). */
  trait Walk extends Serializable {
    def name: String
    def dataType: DataType
    def apply(w: Array[Long], num: Array[Double], str: Array[UTF8String],
              isNull: Array[Boolean], work: Work): ArrayData
  }

  /** The fractional vote over `tree`, whose `share`s are training-mass
    * shares. `leafClass` maps a leaf's output index to its class
    * position among `classes`. */
  final class Vote(val tree: Nodes, val leafClass: Array[Int], val classes: Int) extends Walk {
    override def toString: String = s"vote($tree, $classes classes)"
    def name: String = "graft_tree_vote"
    def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    // a copy's weight rides [[Nodes.fanOut]] as its double's bits: the
    // root's is 1, a child's its parent's times its share
    private val down: (Long, Int) => Long = { (v, c) =>
      val w = java.lang.Double.longBitsToDouble(v) * tree.share(c)
      if (w > 0) java.lang.Double.doubleToRawLongBits(w) else 0L
    }

    /** Per-class vote of one row (no weights): each class sums its
      * leaves' weights in leaf-index order. Dropping zero weights is
      * exact: every weight is >= 0. A row whose known values reach a
      * leaf votes 1 for its class without the fan-out. */
    def apply(w: Array[Long], num: Array[Double], str: Array[UTF8String],
              isNull: Array[Boolean], work: Work): ArrayData = {
      if (work.out.length != classes) work.out = new Array(classes)
      val out = work.out
      java.util.Arrays.fill(out, 0.0)
      val from = tree.descend(num, str, isNull)
      if (from >= 0 && tree.kind(from) == Leaf) {
        if (tree.leaf(from) >= 0) out(leafClass(tree.leaf(from))) = 1.0
        return UnsafeArrayData.fromPrimitiveArray(out)
      }
      work.reserve(tree.kind.length)
      val hits = tree.fanOut(from, java.lang.Double.doubleToRawLongBits(1.0), num, str, isNull,
        work, 0, down)
      var h = 0
      while (h < hits) {
        work.weight(work.hit(h)) = java.lang.Double.longBitsToDouble(work.hitValue(h))
        h += 1
      }
      java.util.Arrays.sort(work.hit, 0, hits)
      h = 0
      while (h < hits) {
        out(leafClass(work.hit(h))) += work.weight(work.hit(h))
        h += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** The fit-time twin of [[Vote]]: per model `models(i)`, a frontier
    * tree `trees(i)` whose leaves are its open rules and whose `share`s
    * are known-mass shares. A row's copies that reach an open rule come
    * out as (model, open-rule index, mass, multiplicity) structs. A
    * null split value passes a copy to every child at
    * `floor(mass × share + 0.5)`, so a path's mass is rounded once per
    * level, parent first; a zero mass ends a copy. */
  final class Fans(val models: Array[Int], val trees: Array[Nodes]) extends Walk {
    override def toString: String = trees.mkString("fans(", ", ", ")")
    def name: String = "graft_tree_fan"
    def dataType: DataType = ArrayType(StructType.fromDDL(
      "__model INT NOT NULL, __rid INT NOT NULL, __mass BIGINT NOT NULL, __m BIGINT NOT NULL"),
      containsNull = false)

    private val nodes = trees.map(_.kind.length).sum
    private val downs: Array[(Long, Int) => Long] =
      trees.map(t => (v: Long, c: Int) => math.floor(v * t.share(c) + 0.5).toLong)

    /** The copies of one row: `w(0)` is its starting mass (none when
      * not positive), `w(1 + i)` its multiplicity in model i (no walk
      * when not positive). */
    def apply(w: Array[Long], num: Array[Double], str: Array[UTF8String],
              isNull: Array[Boolean], work: Work): ArrayData = {
      work.reserve(nodes)
      var hits = 0
      var i = 0
      while (w(0) > 0 && i < trees.length) {
        if (w(1 + i) > 0) {
          val end = trees(i).fanOut(0, w(0), num, str, isNull, work, hits, downs(i))
          while (hits < end) { work.hitModel(hits) = i; hits += 1 }
        }
        i += 1
      }
      new GenericArrayData(Array.tabulate[Any](hits) { h =>
        val m = work.hitModel(h)
        new GenericInternalRow(Array[Any](models(m), work.hit(h), work.hitValue(h), w(1 + m)))
      })
    }
  }

  /** Each child evaluated: the number, the string and whether it is
    * null, as [[genInputs]] fills them in generated code. */
  private[functions] def evalInputs(children: Seq[Expression], input: InternalRow)
      : (Array[Double], Array[UTF8String], Array[Boolean]) = {
    val vs = children.map(_.eval(input))
    (vs.map { case d: Double => d; case _ => 0.0 }.toArray,
      vs.map { case u: UTF8String => u; case _ => null }.toArray, vs.map(_ == null).toArray)
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

  /** [[TreeWalk]] over `attrs`, its `weights` cast to long. */
  def walkColumn(weights: Seq[Column], attrs: Seq[Column], walk: Walk): Column =
    ColumnBridge.column(TreeWalk(weights.map(c => ColumnBridge.expression(c.cast("long"))),
      attrs.map(ColumnBridge.expression), walk))
}
