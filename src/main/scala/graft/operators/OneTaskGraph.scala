package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The one-task shape of the pair-table graph operators
  * ([[GraphRank.pagerank]], [[GraphRank.labelPropagation]],
  * [[Similarity.dbscanFromPairs]]): one gate, one task builder, and the
  * graph the task runs over. */
private[operators] object OneTaskGraph {
  val IntegralIds = Seq(ByteType, ShortType, IntegerType, LongType)

  /** Whether a pair table of `nPairs` pairs runs in one task: its
    * directed edges fit under `capacity` and every id is integral. */
  def fitsOneTask(p2: DataFrame, ns: DataFrame, nPairs: Long, capacity: Long): Boolean =
    2 * nPairs < capacity &&
      Seq(p2.schema("i"), p2.schema("j"), ns.schema("id"))
        .forall(f => IntegralIds.contains(f.dataType))

  /** `run` over the pair table `p2` and the ids of `ns` that touch a
    * pair, in one task, yielding (node, deg, x) for some of those ids;
    * `ns` left-joined to those rows (at most one per directed edge,
    * small enough to broadcast). */
  def inOneTask(p2: DataFrame, ns: DataFrame)(
      run: OneTaskGraph => Iterator[(Long, Long, Long)]): DataFrame = {
    val ends = p2.select(explode(array(col("i").cast("long"), col("j").cast("long"))).as("e"))
    val touching = ns.select(col("id").cast("long").as("a"))
      .join(broadcast(ends), col("a") === col("e"), "left_semi")
    val rows = p2.select(lit(true).as("pair"), col("i").cast("long").as("a"),
        col("j").cast("long").as("b"))
      .union(touching.select(lit(false).as("pair"), col("a"), lit(null).cast("long").as("b")))
      .repartition(1)
      .as(Encoders.tuple(Encoders.scalaBoolean, Encoders.LONG, Encoders.LONG))
    val out = rows.mapPartitions(rs => run(new OneTaskGraph(rs)))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("node", "deg", "x")
    ns.join(broadcast(out), col("id").cast("long") === col("node"), "left")
  }
}

/** A pair table's graph inside one task, built from (true, i, j) pair
  * rows and one (false, id, null) row per node-table row whose id
  * touches a pair. Ids get dense indices in id order. `deg(x)` counts
  * the directed edges out of `x` (one to a null id included, as the
  * per-round join counts it), `mult(x)` the node-table rows of `x` (0
  * for an id outside the node table: it sends nothing and reports
  * nothing), and `from(at(v) until at(v + 1))` holds the sources of
  * `v`'s directed in-edges. Arithmetic is exact: an overflow throws,
  * as it does under ANSI SQL in the per-round loop. */
private[operators] final class OneTaskGraph(rows: Iterator[(Boolean, java.lang.Long, java.lang.Long)]) {
  private val both = Array.newBuilder[Long] // pairs with two ids, flattened
  private val half = Array.newBuilder[Long] // the id of a pair whose other is null
  private val nodeRows = Array.newBuilder[Long]
  rows.foreach {
    case (false, a, _) => nodeRows += a
    case (_, a, b) if a != null && b != null => both += a; both += b
    case (_, a, b) => Option(a).orElse(Option(b)).foreach(half += _)
  }
  private val ends = both.result()
  private val all = ends ++ half.result()
  val ids: Array[Long] = {
    val a = all.clone()
    java.util.Arrays.sort(a)
    var k = 0
    for (x <- a.indices) if (k == 0 || a(x) != a(k - 1)) { a(k) = a(x); k += 1 }
    java.util.Arrays.copyOf(a, k)
  }
  private def index(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
  val m: Int = ids.length
  val deg = new Array[Long](m)
  all.foreach(v => deg(index(v)) += 1)
  val mult = new Array[Long](m)
  nodeRows.result().foreach(v => mult(index(v)) += 1)
  val at = new Array[Int](m + 1)
  val from = new Array[Int](ends.length)
  locally {
    val ix = ends.map(index)
    ix.foreach(v => at(v + 1) += 1)
    for (v <- 0 until m) at(v + 1) += at(v)
    val fill = at.clone()
    for (e <- 0 until ix.length by 2) {
      from(fill(ix(e + 1))) = ix(e); fill(ix(e + 1)) += 1
      from(fill(ix(e))) = ix(e + 1); fill(ix(e)) += 1
    }
  }
  private def out(value: Int => Long): Iterator[(Long, Long, Long)] =
    Iterator.range(0, m).filter(mult(_) > 0).map(v => (ids(v), deg(v), value(v)))

  /** [[GraphRank.pagerank]]'s rounds from rank `start`. */
  def pagerank(iters: Int, damp: Long, base: Long, start: Long): Iterator[(Long, Long, Long)] = {
    import java.lang.Math.{addExact, multiplyExact}
    var pr = Array.fill(m)(start)
    for (_ <- 1 to iters) {
      val c = Array.tabulate(m)(u =>
        if (mult(u) == 0) 0L else multiplyExact(pr(u), damp) / 1000L / deg(u))
      pr = Array.tabulate(m) { v =>
        var s = base
        for (k <- at(v) until at(v + 1)) s = addExact(s, multiplyExact(mult(from(k)), c(from(k))))
        s
      }
    }
    out(pr(_))
  }

  /** [[GraphRank.labelPropagation]]'s rounds; a label is the index of
    * the id it names, so index order is label order. */
  def labels(iters: Int): Iterator[(Long, Long, Long)] = {
    var lbl = Array.range(0, m)
    val votes = new Array[Long](m)
    val seen = new Array[Int](m)
    for (_ <- 1 to iters) {
      val next = lbl.clone()
      for (v <- 0 until m if mult(v) > 0) {
        var k = 0
        for (e <- at(v) until at(v + 1) if mult(from(e)) > 0) {
          val l = lbl(from(e))
          if (votes(l) == 0) { seen(k) = l; k += 1 }
          votes(l) = java.lang.Math.addExact(votes(l), mult(from(e)))
        }
        var best = -1
        for (x <- 0 until k) {
          val l = seen(x)
          if (best < 0 || votes(l) > votes(best) || (votes(l) == votes(best) && l < best)) best = l
        }
        for (x <- 0 until k) votes(seen(x)) = 0
        if (best >= 0) next(v) = best
      }
      lbl = next
    }
    out(v => ids(lbl(v)))
  }

  /** [[Similarity.dbscanFromPairs]]'s labels: (id, nc, cluster) for
    * every node-table id that is core or has a core neighbour. `nc`
    * counts the distinct other ids paired with it, in the node table or
    * not; a core needs `nc + 1 >= minPts` and a node-table row. Clusters
    * are the components of the core-core edges, labelled by their
    * minimum id ([[Dedup]]'s round-0 union-find); a non-core node takes
    * the minimum cluster among its core neighbours. */
  def dbscan(minPts: Int): Iterator[(Long, Long, Long)] = {
    val mark = Array.fill(m)(-1)
    val nc = Array.tabulate(m) { v =>
      var c = 0L
      for (k <- at(v) until at(v + 1)) {
        val u = from(k)
        if (u != v && mark(u) != v) { mark(u) = v; c += 1 }
      }
      c
    }
    val core = Array.tabulate(m)(v => mult(v) > 0 && nc(v) + 1 >= minPts)
    val coreEdges = for {
      v <- Iterator.range(0, m) if core(v)
      k <- Iterator.range(at(v), at(v + 1)) if from(k) > v && core(from(k))
    } yield (ids(v), ids(from(k)))
    // the index of each node's cluster id; m for none
    val cl = Array.tabulate(m)(v => if (core(v)) v else m)
    Dedup.unionFind(coreEdges, 0).foreach(r => cl(index(r.node)) = index(r.root))
    for (v <- 0 until m if mult(v) > 0 && !core(v); k <- at(v) until at(v + 1) if core(from(k)))
      cl(v) = math.min(cl(v), cl(from(k)))
    Iterator.range(0, m).filter(v => mult(v) > 0 && cl(v) < m).map(v => (ids(v), nc(v), ids(cl(v))))
  }
}
