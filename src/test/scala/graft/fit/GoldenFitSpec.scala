package graft.fit

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Hard determinism check for the iterative fit (SURVEY.md O4): the
  * driver's correctness gate can only row-count `q_fit_tree` (no SQL
  * oracle exists for an iterative algorithm), so this spec pins the
  * EXACT rule sets instead — at sf0.01 (the gate's scale) AND sf0.1
  * (the bench's scale, where maxBins binning actually engages). The
  * fit is deterministic — ties break on (gainRatio, -aid) and
  * (cond_entropy, boundary) — so any change in tree shape is a real
  * semantic change and must fail here. */
class GoldenFitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tierDir(sf: String): String =
    if (sf == "sf1") "testdata-sf1" // repo-local, scripts/gen_sf1.py
    else sys.env.getOrElse("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata") + "/" + sf

  private def check(sf: String, goldenResource: String,
                    query: (org.apache.spark.sql.SparkSession, String) =>
                      org.apache.spark.sql.DataFrame =
                      graft.queries.C45Queries.qFitTree): Unit = {
    val dir = tierDir(sf)
    if (!new java.io.File(dir).isDirectory)
      cancel(s"testdata $dir not present on this machine")
    val golden = scala.io.Source.fromResource(goldenResource)
      .getLines().filter(_.nonEmpty).toVector
    val got = query(spark, dir)
      .collect().map(_.getString(0)).toVector
    assert(got == golden,
      s"fitted rule set diverged from golden ($sf):\n got=${got.mkString("\n ")}")
  }

  test("q_fit_tree reproduces the committed sf0.01 rule set exactly") {
    check("sf0.01", "golden/fit_sf001_rules.txt")
  }

  test("q_fit_tree output matches the qFitTreeSql VALUES oracle row-for-row") {
    // The driver's gate hash-compares qFitTree's parquet against
    // qFitTreeSql (a VALUES pin generated from the same golden
    // resource). This asserts the Spark side of that compare locally:
    // the (rule, label, depth) triples the query emits are EXACTLY the
    // triples the oracle SQL encodes — same parse, same order.
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR_BASE", "/root/testdata") + "/sf0.01"
    if (!new java.io.File(dir).isDirectory) cancel(s"testdata $dir not present")
    val golden = scala.io.Source.fromResource("golden/fit_sf001_rules.txt")
      .getLines().filter(_.nonEmpty).toVector
      .map { l =>
        val cut = l.lastIndexOf(':')
        val conds = l.substring(0, cut)
        (l, l.substring(cut + 1), if (conds.isEmpty) 0 else conds.count(_ == '&') + 1)
      }.sortBy(_._1)
    val got = graft.queries.C45Queries.qFitTree(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toVector
    assert(got == golden)
    // and the SQL literal itself carries every golden rule
    val sql = graft.queries.C45Queries.qFitTreeSql
    assert(golden.forall { case (rule, _, _) => sql.contains(s"('$rule'") })
  }

  // q_fit_deep: a multi-level fit whose frontier router (the tree walk
  // over the tree grown so far) descends both categorical and numeric
  // splits past the root. The hierarchical label is designed so the
  // tree is IDENTICAL at every tier — each node's winning attribute scores a
  // gain ratio of exactly 1.0 while all rivals mix classes and land
  // ≥0.3 below, margins that depend only on count proportions (see
  // C45Queries.qFitDeep). These pins therefore guard BOTH determinism
  // of the routed path and that tier-invariance claim, at the gate's
  // scale, the bench's scale, and the replicated sf1 tier — the
  // largest local stand-in for the 100 TB regime.
  test("q_fit_deep reproduces the committed sf0.01 rule set exactly") {
    check("sf0.01", "golden/fit_deep_sf001_rules.txt",
      graft.queries.C45Queries.qFitDeep)
  }

  test("q_fit_deep at sf0.1 matches the committed golden") {
    check("sf0.1", "golden/fit_deep_sf001_rules.txt",
      graft.queries.C45Queries.qFitDeep)
  }

  test("q_fit_deep at the replicated sf1 tier reproduces the committed golden") {
    check("sf1", "golden/fit_deep_sf1_rules.txt",
      graft.queries.C45Queries.qFitDeep)
  }

  // q_fit_missing: qFitDeep's planted structure with ~25% of l_tax
  // nulled by a deterministic key predicate — fractional-weight
  // distribution (the missingMode default) must recover the identical
  // tree from the 75% known mass, at every tier. The committed goldens
  // at sf0.01 and sf0.1 are in fact the same rule set: the planted
  // margins (gain ratio 1.0 vs ≤0.67 rivals, scaled by the ~0.75 known
  // fraction at the l_tax node) dominate the per-tier noise in the
  // null slice's class mix.
  test("q_fit_missing reproduces the committed sf0.01 rule set exactly") {
    check("sf0.01", "golden/fit_missing_sf001_rules.txt",
      graft.queries.C45Queries.qFitMissing)
  }

  test("q_fit_missing at sf0.1 matches the committed golden") {
    check("sf0.1", "golden/fit_missing_sf01_rules.txt",
      graft.queries.C45Queries.qFitMissing)
  }

  test("q_fit_missing at the replicated sf1 tier reproduces the committed golden") {
    check("sf1", "golden/fit_missing_sf01_rules.txt",
      graft.queries.C45Queries.qFitMissing)
  }

  test("q_fit_tree reproduces the committed sf0.1 rule set exactly") {
    // at sf0.1 the golden tree is a single majority leaf — legitimate:
    // TPC-H l_linestatus is independent of these attributes, so root
    // gain ratios are pure noise ~ O(1/N); at 60k rows (sf0.01) that
    // noise still clears the reference's ε=1e-5 selectability floor
    // and the tree (over)fits, at 600k rows it drops below ε and the
    // root correctly refuses to split (verified against DuckDB root
    // stats). The pin still guards determinism of that decision.
    check("sf0.1", "golden/fit_sf01_rules.txt")
  }
}
