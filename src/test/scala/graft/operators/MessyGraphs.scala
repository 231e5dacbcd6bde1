package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.DataType
import org.scalacheck.Gen

/** Shared fixtures of the pair-table graph specs (GraphRankSpec,
  * DbscanSpec): a messy graph generator, an id pool with extremes, and
  * a collect under its own released [[CacheScope]], so a spec leaves no
  * table cached for later suites (the dedup specs collect through it
  * too). */
object MessyGraphs {
  type Pair = (Option[Long], Option[Long])

  /** A messy graph over `pool`'s ids: pairs duplicated, reversed, self-
    * paired and half-null at random, plus one both-null pair; a node
    * table that drops some endpoints, adds isolated ids, repeats some
    * ids and holds one null id. */
  def messy(pool: Gen[Long]): Gen[(Seq[Pair], Seq[Option[Long]])] = for {
    n <- Gen.chooseNum(5, 60)
    edges <- Gen.listOfN(n, Gen.zip(pool, pool))
    shape <- Gen.listOfN(n, Gen.chooseNum(0, 9))
    drop <- Gen.listOfN(n, Gen.chooseNum(0, 5))
    isolated <- Gen.listOfN(4, pool)
  } yield {
    val pairs = edges.zip(shape).flatMap {
      case ((a, b), 0) => Seq[Pair]((Some(a), Some(b)), (Some(a), Some(b))) // duplicate
      case ((a, b), 1) => Seq[Pair]((Some(b), Some(a)))                     // reversed
      case ((a, b), 2) => Seq[Pair]((Some(a), Some(b)), (Some(a), Some(a))) // plus a self pair
      case ((a, _), 3) => Seq[Pair]((Some(a), None))                        // null endpoints
      case ((_, b), 4) => Seq[Pair]((None, Some(b)))
      case ((a, b), _) => Seq[Pair]((Some(a), Some(b)))
    } :+ ((None, None): Pair)
    val ends = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val kept = ends.zip(drop).collect { case (v, d) if d > 0 => v }  // endpoints outside nodes
    val nodes = (kept ++ kept.take(3) ++ isolated).distinct.map(Option(_)) ++
      kept.take(3).map(Option(_)) :+ None                              // 3 ids twice, a null id
    (pairs, nodes)
  }

  /** Small ids plus ids at both ends of the long range. */
  val longIds: Gen[Long] = Gen.oneOf(Gen.chooseNum(-12L, 12L),
    Gen.chooseNum(0L, 2L).map(Long.MinValue + _), Gen.chooseNum(0L, 2L).map(Long.MaxValue - _))

  /** The rows of `run`'s result, collected under a fresh scope that is
    * released afterwards. */
  def scoped(run: CacheScope => DataFrame): Array[Row] = {
    val scope = new CacheScope
    try run(scope).collect() finally scope.release()
  }

  /** The column types and sorted rows of `run`'s result, under a fresh
    * scope that is released afterwards. */
  def typedRows(run: CacheScope => DataFrame): (Seq[DataType], Seq[String]) = {
    val scope = new CacheScope
    try {
      val df = run(scope)
      (df.schema.map(_.dataType), df.collect().map(_.toString).sorted.toSeq)
    } finally scope.release()
  }
}
