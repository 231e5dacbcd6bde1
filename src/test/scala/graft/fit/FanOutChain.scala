package graft.fit

import graft.meta.C45Schema
import graft.model.{CatEq, NumGT, NumLE, Rule}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The fractional fan-out as the join chain it replaced: the reference
  * that [[LevelLoop.fanned]]'s walk must match bit for bit. Null-free
  * rows route through the frontier walk ([[C45.frontierRidColumn]]) at
  * their starting mass. Rows with a null ride a chain: level 0 tags
  * them at the root, and each later level broadcast-joins the previous
  * level's copies against the (model, parent rid) → child edges and
  * computes a copy's mass on the edge it joined in Catalyst arithmetic:
  * its mass where the value selects the child, `floor(mass × share +
  * 0.5)` on every child of a null value, none otherwise (an unseen
  * category, the other side); zero masses leave. An instance keeps the
  * previous level, so it serves one fit, level by level, as
  * `LevelLoop.grow`'s `fan`. */
final class FanOutChain extends ((DataFrame, C45Schema, LevelLoop.Models, LevelLoop.Frontier) => DataFrame) {
  private var chain: DataFrame = _
  private var prevOpen: IndexedSeq[Vector[Rule]] = _

  def apply(data: DataFrame, schema: C45Schema, ms: LevelLoop.Models,
            f: LevelLoop.Frontier): DataFrame = {
    val dirty = schema.attrNames.map(col(_).isNull).reduce(_ || _)
    // each active model's copy of `rows` at the starting mass, where
    // `rid` routes it and the row trains the model
    def tagged(rows: DataFrame, rid: Int => Column): DataFrame =
      rows.select(col("*"), inline(array(f.active.map { m =>
        val mult = ms.multiplicity(m).cast("long")
        struct(lit(m).as("__model"), when(mult > 0, rid(m)).otherwise(lit(-1)).as("__rid"),
          ms.mass.cast("long").as("__mass"), mult.as("__m"))
      }: _*))).filter(col("__rid") >= 0 && col("__m") > 0)
    val clean = tagged(data.filter(!dirty), m => C45.frontierRidColumn(f.open(m), schema))
    chain = if (f.level == 0) tagged(data.filter(dirty), _ => lit(0)) else joined(schema, f)
    prevOpen = f.open
    chain.unionByName(clean)
  }

  private def joined(schema: C45Schema, f: LevelLoop.Frontier): DataFrame = {
    val spark = chain.sparkSession
    import spark.implicits._
    val edges = f.active.flatMap { m =>
      val parent = prevOpen(m).map(_.conditions).zipWithIndex.toMap
      f.open(m).zipWithIndex.map { case (r, crid) =>
        val (aid, split) = r.conditions.last
        val (kind, boundary, side, catval) = split match {
          case NumLE(b) => ("num", b, "le", "")
          case NumGT(b) => ("num", b, "gt", "")
          case CatEq(v) => ("cat", 0.0, "", v)
        }
        (m, parent(r.conditions.init), kind, aid, boundary, side, catval, crid,
          f.share(m)(r.conditions))
      }
    }.toDF("__pmodel", "__prid", "__kind", "__aid", "__boundary", "__side", "__catval",
      "__crid", "__frac")
    chain.join(broadcast(edges),
        chain("__model") === edges("__pmodel") && chain("__rid") === edges("__prid"))
      .withColumn("__wN", weight(schema))
      .filter(col("__wN").isNotNull && col("__wN") > 0)
      .drop("__rid", "__mass", "__pmodel", "__prid", "__kind", "__aid", "__boundary",
        "__side", "__catval", "__frac")
      .withColumnRenamed("__crid", "__rid")
      .withColumnRenamed("__wN", "__mass")
  }

  // a copy's mass on the edge it joined
  private def weight(schema: C45Schema): Column = {
    val fracW = floor(col("__mass") * col("__frac") + lit(0.5)).cast("long")
    def value(numeric: Boolean): Column = {
      val kind = if (numeric) "double" else "string"
      val attrs = schema.attrs.filter(_.isNumeric == numeric)
      if (attrs.isEmpty) lit(null).cast(kind)
      else element_at(map(attrs.flatMap(a =>
        Seq(lit(schema.attrIndex(a.name)), col(a.name).cast(kind))): _*), col("__aid"))
    }
    val num = value(numeric = true)
    val cat = value(numeric = false)
    when(col("__kind") === "num",
      when(col("__side") === "le" && num <= col("__boundary"), col("__mass"))
        .when(col("__side") === "gt" && num > col("__boundary"), col("__mass"))
        .when(num.isNull, fracW))
      .when(col("__kind") === "cat",
        when(cat === col("__catval"), col("__mass")).when(cat.isNull, fracW))
  }
}
