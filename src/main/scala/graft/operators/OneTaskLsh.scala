package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The one-task shape of [[Dedup.minHashLshPairs]]: one gate, and one
  * task that mines every pair of a corpus small enough for it. */
private[operators] object OneTaskLsh {

  /** A corpus row inside the task: its id and its distinct shingles as
    * UTF-8 bytes (None for a null id, or a null text). */
  case class Doc(id: Option[Long], sh: Option[Array[Array[Byte]]])

  /** Whether `df` runs in one task: its id column is integral and its
    * rows plus their shingle occurrences fit under `capacity` (one
    * aggregation over the input, not run at capacity 0). */
  def fits(df: DataFrame, idCol: String, textCol: String, n: Int, capacity: Long): Boolean =
    capacity > 0 &&
      OneTaskGraph.IntegralIds.contains(df.select(col(idCol)).schema.head.dataType) && {
        val sh = Dedup.shingles(col(textCol), n)
        df.agg(count(lit(1)) + coalesce(sum(greatest(size(sh), lit(0))), lit(0L)))
          .head().getLong(0) < capacity
      }

  /** [[Dedup.minHashLshPairs]] of `df` in one task: (i, j, jaccard), the
    * ids in the id column's type. */
  def pairs(df: DataFrame, idCol: String, textCol: String, k: Int, rowsPerBand: Int,
            threshold: Double, n: Int, maxShingleDf: Long): DataFrame = {
    val idType = df.select(col(idCol)).schema.head.dataType
    df.select(col(idCol).cast("long").as("id"),
        Dedup.shingles(col(textCol), n).cast("array<binary>").as("sh"))
      .repartition(1)
      .as(Encoders.product[Doc])
      .mapPartitions(docs =>
        new OneTaskLsh(docs, k, maxShingleDf).pairs(rowsPerBand, threshold))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("i", "j", "jaccard")
      .select(col("i").cast(idType).as("i"), col("j").cast(idType).as("j"), col("jaccard"))
  }
}

/** A corpus inside one task, replaying the relational pipeline of
  * [[Dedup.minHashLshPairs]]. Shingles get indices in first-seen order;
  * each one's document frequency counts the rows that hold it (null-id
  * rows included) and decides the cap. Each non-null id has k
  * Carter–Wegman mins over the union of its rows' surviving shingles,
  * and is verified on one set per non-null-text row uncapped or on that
  * union capped; an id whose union is empty pairs with nothing. Ids
  * group by full signature. */
private[operators] final class OneTaskLsh(docs: Iterator[OneTaskLsh.Doc], k: Int,
                                          maxShingleDf: Long) {
  private val shingles = mutable.ArrayBuffer.empty[Array[Byte]]
  private val rows: Array[(Option[Long], Array[Int])] = {
    val index = new java.util.HashMap[java.nio.ByteBuffer, Integer]
    docs.map { d =>
      (d.id, d.sh.map(_.map(b => index.computeIfAbsent(java.nio.ByteBuffer.wrap(b),
        _ => { shingles += b; shingles.length - 1 }).intValue)).orNull)
    }.toArray
  }
  private val df = new Array[Long](shingles.length)
  rows.foreach { case (_, s) => if (s != null) s.foreach(x => df(x) += 1) }
  private val (h0, h1) = shingles.toArray.map(Dedup.minHashSeedsJvm).unzip

  /** The verify sets of every id with a signature. */
  private val sets = mutable.HashMap.empty[Long, Array[Array[Int]]]
  /** The ids of each signature. */
  private val groups = mutable.LinkedHashMap.empty[Seq[Long], mutable.ArrayBuffer[Long]]
  locally {
    val byId = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Array[Int]]]
    for ((Some(id), s) <- rows if s != null) byId.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += s
    for ((id, rs) <- byId) {
      val union = rs.flatten.filter(x => maxShingleDf <= 0 || df(x) <= maxShingleDf).distinct.sorted
      if (union.nonEmpty) {
        sets(id) = if (maxShingleDf > 0) Array(union.toArray) else rs.map(_.sorted).toArray
        val sig = Array.tabulate(k)(i => union.iterator.map(x => (h0(x) + i * h1(x)) % Dedup.MinHashMod).min)
        groups.getOrElseUpdate(sig.toSeq, mutable.ArrayBuffer.empty) += id
      }
    }
  }

  /** The verified pairs, lazily: groups sharing a `hash60` band hash
    * pair their members, and a group pairs its own members. */
  def pairs(rowsPerBand: Int, threshold: Double): Iterator[(Long, Long, Double)] = {
    val sigs = groups.keys.toArray
    val members = groups.values.toArray
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
    for (g <- sigs.indices; b <- 0 until k / rowsPerBand) {
      val band = sigs(g).slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString("|")
      buckets.getOrElseUpdate((b, Hashing.hash60Jvm(band, 1000 + b)), mutable.ArrayBuffer.empty) += g
    }
    val cross = mutable.HashSet.empty[(Int, Int)]
    for (gs <- buckets.valuesIterator; x <- gs.indices; y <- x + 1 until gs.length) cross += ((gs(x), gs(y)))
    def pair(a: Long, b: Long) = (a min b, a max b)
    val ids = cross.iterator.flatMap { case (ga, gb) =>
        for (a <- members(ga).iterator; b <- members(gb).iterator) yield pair(a, b) } ++
      members.iterator.flatMap(ms =>
        for (x <- ms.indices.iterator; y <- (0 until x).iterator) yield pair(ms(y), ms(x)))
    for ((i, j) <- ids; a <- sets(i).iterator; b <- sets(j).iterator;
         jac <- jaccard(a, b) if jac >= threshold) yield (i, j, jac)
  }

  /** |a ∩ b| / |a ∪ b| of two sorted sets; None for two empty sets,
    * whose pair the relational verify drops too. */
  private def jaccard(a: Array[Int], b: Array[Int]): Option[Double] = {
    var x = 0
    var y = 0
    var common = 0
    while (x < a.length && y < b.length) {
      if (a(x) < b(y)) x += 1
      else if (a(x) > b(y)) y += 1
      else { common += 1; x += 1; y += 1 }
    }
    val union = a.length + b.length - common
    if (union != 0) Some(common.toDouble / union) else None
  }
}
