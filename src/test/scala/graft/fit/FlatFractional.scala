package graft.fit

import graft.model.{Rule, Split}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The fractional vote as flat Catalyst arithmetic: the reference that
  * [[C45Model.transformFractional]]'s tree walk must match bit for
  * bit. One projection per tree level adds the level's node weights as
  * `w(child) = w(parent) × factor`: the factor is 1 on the taken
  * branch, the child's training-mass share `mass(p) / mass(p.init)`
  * (0.0 under a zero-mass parent) on every child of a null split
  * value, and 0 otherwise; a depth-1 weight is the factor itself. Each
  * class sums its leaves' weights in `leaves` order. */
object FlatFractional {

  /** `df` plus one `<votePrefix><class>` column per
    * [[C45Model.fractionalClasses]] entry and `outputCol`, their
    * argmax. The model must have a tree form or a single leaf. */
  def apply(model: C45Model, df: DataFrame, outputCol: String = "prediction",
            votePrefix: String = "__flat_v_"): DataFrame = {
    val names = model.schema.attrNames
    val mass = model.prefixMass
    // all distinct non-empty prefixes, shallow→deep, stable order
    val prefixes: Vector[Vector[(Int, Split)]] = model.leaves
      .flatMap(r => (1 to r.conditions.length).map(r.conditions.take))
      .distinct
    val colOf: Map[Vector[(Int, Split)], String] =
      prefixes.zipWithIndex.map { case (p, i) => p -> s"__flat_w$i" }.toMap
    def factor(p: Vector[(Int, Split)]): Column = {
      val (aid, s) = p.last
      val denom = mass(p.init).toDouble
      val frac = if (denom > 0) mass(p) / denom else 0.0
      val a = col(names(aid))
      when(a.isNull, lit(frac))
        .otherwise(when(s.toPredicate(a), lit(1.0)).otherwise(lit(0.0)))
    }
    val staged = prefixes.groupBy(_.length).toSeq.sortBy(_._1).foldLeft(df) {
      case (d, (depth, ps)) =>
        d.withColumns(ps.map { p =>
          colOf(p) -> (if (depth == 1) factor(p) else col(colOf(p.init)) * factor(p))
        }.toMap)
    }
    def wLeaf(r: Rule): Column =
      if (r.conditions.isEmpty) lit(1.0) else col(colOf(r.conditions))
    val classes = model.fractionalClasses
    val voted = staged.withColumns(classes.map { c =>
      s"$votePrefix$c" -> model.leaves.collect { case r if r.label.contains(c) => wLeaf(r) }
        .reduce(_ + _)
    }.toMap)
    voted.withColumn(outputCol, model.argmaxPred(classes.map(c => c -> col(s"$votePrefix$c"))))
      .drop(prefixes.map(colOf): _*)
  }
}
