package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.scalatest.funsuite.AnyFunSuite

/** Canonical C4.5 unknown-value handling (missingMode="fractional",
  * the default): a null-valued row's weight is distributed across the
  * children of its rule's split in proportion to observed branch mass,
  * the split's gain is scaled by the known fraction, and split-info
  * charges the unknown slice as an extra branch — Quinlan's C4.5
  * accounting, the canonical piece the reference cannot reach (it NPEs
  * on any null, MyMapper.java value routing). missingMode="drop"
  * reproduces the pre-weighting behavior: null rows silently leave
  * each attribute's histogram and drop from the tree once their path
  * splits on the null attribute.
  *
  * Every expected tree below is hand-computed from the entropy
  * identities (margins are real, never an ulp): the flip cases are
  * designed so the fractional mass added to a child strictly crosses
  * its majority threshold while drop mode stays on the other side. */
class FractionalMissingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def leafSet(m: C45Model) = m.leaves.map(_.encode).toSet

  /** 5+5 known rows (a=x: 3p2n, a=y: 1p4n) + 10 null-a rows of class n.
    * Root splits on `a` in both modes (gain-ratio 0.125 drop / 0.042
    * fractional, both over the thresholds). frac = 0.5 per child, so
    * each child inherits 5 units of n-mass from the nulls: child x
    * flips from p (3p2n) to n (3p vs 2+5 n); drop mode keeps p. */
  test("categorical split: null mass flips a child majority vs drop mode") {
    val s = spark
    import s.implicits._
    val rows =
      Seq.fill(3)(("x", "p")) ++ Seq.fill(2)(("x", "n")) ++
        Seq.fill(1)(("y", "p")) ++ Seq.fill(4)(("y", "n")) ++
        Seq.fill(10)((null.asInstanceOf[String], "n"))
    val df = rows.toDF("a", "cls")
    val schema = C45Schema(Seq(AttrMeta("a", isNumeric = false)), "cls", Nil)
    val frac = C45.fit(df, schema, C45Params(missingMode = "fractional"))
    val drop = C45.fit(df, schema, C45Params(missingMode = "drop"))
    assert(leafSet(frac) == Set("0,x:n", "0,y:n"))
    assert(leafSet(drop) == Set("0,x:p", "0,y:n"))
  }

  /** Same construction on a numeric attribute: boundary z<=1.0 (the
    * only candidate — z=2 is the max value), fracLeft = 5/10 = 0.5, so
    * both branches inherit 5 units of null n-mass and the left leaf
    * flips from p to n. */
  test("numeric split: nulls distribute by fracLeft and flip the left leaf") {
    val s = spark
    import s.implicits._
    val rows =
      Seq.fill(3)((java.lang.Double.valueOf(1.0), "p")) ++
        Seq.fill(2)((java.lang.Double.valueOf(1.0), "n")) ++
        Seq.fill(1)((java.lang.Double.valueOf(2.0), "p")) ++
        Seq.fill(4)((java.lang.Double.valueOf(2.0), "n")) ++
        Seq.fill(10)((null.asInstanceOf[java.lang.Double], "n"))
    val df = rows.toDF("z", "cls")
    val schema = C45Schema(Seq(AttrMeta("z", isNumeric = true)), "cls", Nil)
    val frac = C45.fit(df, schema, C45Params(missingMode = "fractional"))
    val drop = C45.fit(df, schema, C45Params(missingMode = "drop"))
    assert(leafSet(frac) == Set("0,<=1.0:n", "0,>1.0:n"))
    assert(leafSet(drop) == Set("0,<=1.0:p", "0,>1.0:n"))
  }

  /** Fractional weight persists through LATER levels: 24 known-a rows
    * (x: u→3p,1n / v→4n; y: 16 pure n) + 7 null-a rows with b=u,
    * class n. Root splits on `a` in both modes (fractional gain-ratios
    * 0.118 vs b's 0.076). The nulls enter child x at weight
    * frac_x = 8/24 each (2.333 units total), so the level-2 b=u leaf
    * holds 3p vs 1+2.333 n and flips to n; drop mode discards the
    * nulls at the root split and keeps p (3p1n). */
  test("fractional mass rides through a second-level split") {
    val s = spark
    import s.implicits._
    val rows =
      Seq.fill(3)(("x", "u", "p")) ++ Seq.fill(1)(("x", "u", "n")) ++
        Seq.fill(4)(("x", "v", "n")) ++
        Seq.fill(8)(("y", "u", "n")) ++ Seq.fill(8)(("y", "v", "n")) ++
        Seq.fill(7)((null.asInstanceOf[String], "u", "n"))
    val df = rows.toDF("a", "b", "cls")
    val schema = C45Schema(
      Seq(AttrMeta("a", isNumeric = false), AttrMeta("b", isNumeric = false)),
      "cls", Nil)
    val frac = C45.fit(df, schema, C45Params(missingMode = "fractional"))
    val drop = C45.fit(df, schema, C45Params(missingMode = "drop"))
    assert(leafSet(frac) == Set("0,x&1,u:n", "0,x&1,v:n", "0,y:n"))
    assert(leafSet(drop) == Set("0,x&1,u:p", "0,x&1,v:n", "0,y:n"))
  }

  /** A null-free corpus must be bit-identical between the modes: the
    * fractional machinery engages only when nulls exist (the up-front
    * probe), so both fits take the same code path — same splits, same
    * boundaries, same labels. */
  test("null-free corpus: fractional and drop produce identical trees") {
    val s = spark
    import s.implicits._
    val rows = for {
      av <- 0 until 4; x <- 0 until 10; copy <- 0 until 2
    } yield (s"v$av", x.toDouble, if (x <= 2 + av) "p" else "n", copy)
    val df = rows.toDF("a", "x", "cls", "copy").drop("copy")
    val schema = C45Schema.fromDataFrame(df, "cls")
    val frac = C45.fit(df, schema, C45Params(missingMode = "fractional"))
    val drop = C45.fit(df, schema, C45Params(missingMode = "drop"))
    assert(leafSet(frac) == leafSet(drop))
    assert(frac.majority == drop.majority)
    assert(frac.leaves.size > 4, "the tree must actually grow")
  }

  /** Drop mode through the fit's wide-frontier router (formerly a
    * broadcast rule-table join, now the tree walk) equals drop mode
    * through the flat CASE WHEN — null rows fall out of both route
    * forms identically (the walk's −1 on a null split value and the
    * CASE WHEN's unmatched −1 are the same fate). */
  test("drop mode: join-routed and flat routing agree on null data") {
    val s = spark
    import s.implicits._
    val rows = (for {
      av <- 0 until 6; x <- 0 until 8; copy <- 0 until 2
    } yield (s"v$av", x.toDouble, if (x <= 2 + av % 3) "p" else "n")) ++
      Seq((null.asInstanceOf[String], 3.0, "p"), ("v0", 3.0, "p"))
    val df = rows.toDF("a", "x", "cls")
    val schema = C45Schema(
      Seq(AttrMeta("a", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Nil)
    val params = C45Params(missingMode = "drop")
    val walked = C45.fit(df, schema, params)
    val flat = DeepFrontierSpec.flatFit(df, schema, params)
    assert(leafSet(flat) == leafSet(walked))
  }

  /** Weight conservation at the fit's precision: every level's total
    * micro-weight equals the input mass to within one micro per
    * distributed row per level (the documented half-up rounding). A
    * proxy observable: fitting with ONLY nulls on one attribute and a
    * second fully-known attribute must still see every row's full
    * weight in the known attribute's histogram — so the known split's
    * decision matches the fit on the same data with the null column
    * removed entirely. */
  test("an all-null attribute never distorts the known attributes' stats") {
    val s = spark
    import s.implicits._
    val rows = (0 until 40).map { i =>
      (null.asInstanceOf[String], (i % 10).toDouble,
        if (i % 10 <= 4) "p" else "n")
    }
    val df = rows.toDF("dead", "x", "cls")
    val schema2 = C45Schema(
      Seq(AttrMeta("dead", isNumeric = false), AttrMeta("x", isNumeric = true)),
      "cls", Nil)
    val schema1 = C45Schema(Seq(AttrMeta("x", isNumeric = true)), "cls", Nil)
    val withDead = C45.fit(df, schema2)
    val without = C45.fit(df.drop("dead"), schema1)
    // attr indices differ (x is 1 vs 0) — compare the decoded shapes
    def shape(m: C45Model) =
      m.leaves.map(r => (r.conditions.map(_._2.encoded), r.label)).toSet
    assert(shape(withDead) == shape(without))
  }
}
