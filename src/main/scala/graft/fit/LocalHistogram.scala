package graft.fit

import graft.functions.{SortedCeilSnap, TreeLeaf}
import graft.meta.C45Schema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.CollectBridge
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The level histograms of a small training frame, computed in the
  * driver: [[LevelLoop]]'s local home for them. `data` is collected
  * ONCE, in one job, and every level's cells come from those rows:
  * the same multiset [[LevelLoop.sparkCells]] aggregates in Spark, so
  * the driver-side split math decides bit-identically.
  *
  * The collect projects, with Spark's own expressions, whatever Spark
  * computes per row: the walk inputs ([[C45.frontierInputs]]), the
  * class as a string, the starting mass and every model's multiplicity
  * (casts, fold masks, Poisson draws and boost weights stay Spark's).
  * A numeric cell value is the walk input snapped to the model's bin
  * edges ([[SortedCeilSnap.snap]]) and formatted by Spark's
  * double-to-string `Cast`, once per distinct value; a categorical one
  * is the walk input itself. Values are told apart by their UTF-8
  * bytes, as the Spark aggregation groups them.
  *
  * Per level, each row is walked as `graft_tree_leaf` walks it
  * ([[TreeLeaf.Nodes.leafOf]], in every active model whose multiplicity
  * is positive) or, when null rows fan out, as `graft_tree_fan` does
  * ([[TreeLeaf.Fans]]). Each copy weighs mass × multiplicity and emits
  * the class sentinel plus its live attributes' non-null values
  * ([[LevelLoop.liveAttrs]]); products and sums overflow as ANSI's
  * `*` and `sum` do. */
private[fit] final class LocalHistogram(data: DataFrame, schema: C45Schema, params: C45Params,
                                        ms: LevelLoop.Models) {
  private val d = schema.attrs.size

  private val collected: Array[InternalRow] = {
    val sc = data.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.${ms.caller} local rows=${ms.probe.rows} models=${ms.k}")
    try CollectBridge.internalRows(data.select(C45.frontierInputs(schema) ++
      Seq(col(schema.classCol).cast("string"), ms.mass.cast("long")) ++
      (0 until ms.k).map(ms.multiplicity(_).cast("long")): _*))
    finally sc.setJobDescription(prevDesc)
  }

  /** The collected row count. */
  val n: Int = collected.length

  // per row, the walk inputs as the generated walk fills them
  private val num = Array.fill(n)(new Array[Double](d))
  private val str = Array.fill(n)(new Array[UTF8String](d))
  private val isNull = Array.fill(n)(new Array[Boolean](d))
  // per row its starting mass, per model and row its multiplicity
  // (null reads as 0, as the walk's weights do)
  private val mass = new Array[Long](n)
  private val mult = Array.fill(ms.k)(new Array[Long](n))
  collected.indices.foreach { r =>
    val row = collected(r)
    schema.attrs.indices.foreach { aid =>
      isNull(r)(aid) = row.isNullAt(aid)
      if (!isNull(r)(aid)) {
        if (schema.attrs(aid).isNumeric) num(r)(aid) = row.getDouble(aid)
        else str(r)(aid) = row.getUTF8String(aid)
      }
    }
    if (!row.isNullAt(d + 1)) mass(r) = row.getLong(d + 1)
    mult.indices.foreach(m => if (!row.isNullAt(d + 2 + m)) mult(m)(r) = row.getLong(d + 2 + m))
  }

  /** Distinct values by their UTF-8 bytes: each row's index among
    * them (−1 for null) and their strings. */
  private def encode(value: Int => UTF8String): (Array[Int], Array[String]) = {
    val index = new java.util.HashMap[UTF8String, Integer]
    val names = mutable.ArrayBuffer.empty[String]
    val codes = Array.tabulate(n) { r =>
      val v = value(r)
      if (v == null) -1
      else index.computeIfAbsent(v, _ => { names += v.toString; names.size - 1 }).intValue
    }
    (codes, names.toArray)
  }

  private val (cls, classes) = encode(r => collected(r).getUTF8String(d))

  // a number as Spark's own double-to-string cast shows it, once per
  // distinct value
  private val castDouble = Cast(BoundReference(0, DoubleType, nullable = false), StringType)
  private val shown = mutable.LongMap.empty[UTF8String]
  private def text(v: Double): UTF8String = shown.getOrElseUpdate(
    java.lang.Double.doubleToRawLongBits(v), castDouble.eval(InternalRow(v)).asInstanceOf[UTF8String])

  // per model and attribute, each row's value index and the values
  private val values: IndexedSeq[IndexedSeq[(Array[Int], Array[String])]] =
    (0 until ms.k).map(m => schema.attrs.indices.map { aid =>
      if (!schema.attrs(aid).isNumeric) encode(r => str(r)(aid))
      else {
        val edges = ms.probe.edges(m).get(aid)
        encode(r => if (isNull(r)(aid)) null
          else text(edges.fold(num(r)(aid))(SortedCeilSnap.snap(_, num(r)(aid)))))
      }
    })

  /** One level's cells per active model of `f`. */
  def cells(f: LevelLoop.Frontier): Map[Int, Array[LevelLoop.Cell]] = {
    val active = f.active.toArray
    val copies = active.map(_ => new Copies)
    if (ms.probe.fractional) {
      val fans = new TreeLeaf.Fans(active, active.map(m =>
        C45.treeNodes(f.open(m).map(_.conditions), (aid, _) => aid, f.share(m))))
      val slot = active.zipWithIndex.toMap
      val work = new TreeLeaf.Work
      val w = new Array[Long](1 + active.length)
      for (r <- 0 until n) {
        w(0) = mass(r)
        active.indices.foreach(i => w(1 + i) = mult(active(i))(r))
        val out = fans(w, num(r), str(r), isNull(r), work)
        for (h <- 0 until out.numElements) {
          val c = out.getStruct(h, 4)
          copies(slot(c.getInt(0))).add(c.getInt(1), r, Math.multiplyExact(c.getLong(2), c.getLong(3)))
        }
      }
    } else {
      val trees = active.map(m => C45.treeNodes(f.open(m).map(_.conditions), (aid, _) => aid))
      for (r <- 0 until n; i <- active.indices) {
        val m = mult(active(i))(r)
        if (m > 0) {
          val rid = trees(i).leafOf(num(r), str(r), isNull(r))
          if (rid >= 0) copies(i).add(rid, r, Math.multiplyExact(mass(r), m))
        }
      }
    }
    active.indices.map { i =>
      val m = active(i)
      m -> copies(i).cells(f.open(m).size, values(m),
        LevelLoop.liveAttrs(ms, d, params, m, f.level, f.open(m)))
    }.toMap
  }

  /** One model's row copies of a level: (open rule, row, weight). */
  private final class Copies {
    private val rid, row = mutable.ArrayBuilder.make[Int]
    private val weight = mutable.ArrayBuilder.make[Long]

    def add(r: Int, at: Int, w: Long): Unit = { rid += r; row += at; weight += w }

    /** The copies' cells: rule by rule (of `rules`), the sums per
      * (attribute slot, value, class), with the sentinel in slot 0 and
      * `live(rid)` in slots 1.. */
    def cells(rules: Int, vals: IndexedSeq[(Array[Int], Array[String])],
              live: Int => Seq[Int]): Array[LevelLoop.Cell] = {
      val rids = rid.result(); val rows = row.result(); val ws = weight.result()
      // copies by rule: a counting sort
      val start = new Array[Int](rules + 1)
      rids.foreach(x => start(x + 1) += 1)
      (0 until rules).foreach(x => start(x + 1) += start(x))
      val order = new Array[Int](rids.length)
      val next = start.clone()
      rids.indices.foreach { c => order(next(rids(c))) = c; next(rids(c)) += 1 }
      // key = (slot × v + value) × c + class < (attributes + 1) × rows²
      val c = classes.length.toLong
      val v = (vals.map(_._2.length) :+ classes.length).max.toLong
      val out = mutable.ArrayBuilder.make[LevelLoop.Cell]
      val sums = new LongSums
      for (x <- 0 until rules if start(x) < start(x + 1)) {
        val aids = live(x).toArray
        for (p <- start(x) until start(x + 1)) {
          val r = rows(order(p)); val w = ws(order(p)); val k = cls(r)
          sums.add(k * c + k, w)
          var s = 0
          while (s < aids.length) {
            val code = vals(aids(s))._1(r)
            if (code >= 0) sums.add(((s + 1) * v + code) * c + k, w)
            s += 1
          }
        }
        sums.drain { (key, sum) =>
          val s = (key / c / v).toInt
          val code = (key / c % v).toInt
          val k = classes((key % c).toInt)
          out += (if (s == 0) (x, -1, k, k, sum) else (x, aids(s - 1), vals(aids(s - 1))._2(code), k, sum))
        }
      }
      out.result()
    }
  }
}

/** Long sums by non-negative Long key, overflowing as ANSI's `sum`:
  * open addressing over primitive arrays, which keeps the per-cell
  * update of a local level free of boxing. */
private final class LongSums {
  private var keys = Array.fill(64)(-1L)
  private var sums = new Array[Long](64)
  private var size = 0

  private def slot(key: Long): Int = {
    var i = java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L) & (keys.length - 1)
    while (keys(i) != -1L && keys(i) != key) i = (i + 1) & (keys.length - 1)
    i
  }

  def add(key: Long, w: Long): Unit = {
    val i = slot(key)
    if (keys(i) == key) sums(i) = Math.addExact(sums(i), w)
    else {
      keys(i) = key; sums(i) = w; size += 1
      if (2 * size > keys.length) {
        val (ks, ss) = (keys, sums)
        keys = Array.fill(2 * ks.length)(-1L); sums = new Array[Long](2 * ks.length)
        ks.indices.foreach(j => if (ks(j) != -1L) { val t = slot(ks(j)); keys(t) = ks(j); sums(t) = ss(j) })
      }
    }
  }

  /** Hand every (key, sum) to `f` and empty the table. */
  def drain(f: (Long, Long) => Unit): Unit = {
    keys.indices.foreach(i => if (keys(i) != -1L) { f(keys(i), sums(i)); keys(i) = -1L })
    size = 0
  }
}
