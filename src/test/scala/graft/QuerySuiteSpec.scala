package graft

/** Checks for queries whose outputs can't be oracle-compared (approximate
  * or engine-specific), run on the smallest corpus. */
class QuerySuiteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q39: approx_count_distinct bound claim holds on every row") {
    val rows = SparkEntry.queries("q39_approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_users") > 0)
      assert(r.getAs[Boolean]("approx_ok"),
        s"approx out of 3σ bound for ${r.getAs[String]("event_type")}")
    }
  }

  test("q43: HLL sketch bound claim (per-group and merged union) holds") {
    val rows = SparkEntry.queries("q43_hll_sketch")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).contains("__all__"))
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_users") > 0)
      assert(r.getAs[Boolean]("approx_ok"),
        s"sketch out of 3σ bound for ${r.getAs[String]("event_type")}")
    }
  }

  test("q93: the quantile sketch lands inside the exact [P49, P51] window") {
    val rows = SparkEntry.queries("q93_approx_quantile")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("approx_ok"),
        s"sketch median out of rank window for ${r.getAs[String]("l_returnflag")}")
    }
  }

  test("q18: IVF recall vs q17 brute force on the real embeddings") {
    def sets(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("nbr_id")).toSet }
    val brute = sets("q17_ann_brute")
    val ivf = sets("q18_ann_ivf")
    val recall = brute.toSeq.map { case (q, bs) =>
      ivf.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / brute.size
    assert(recall >= 0.5, s"IVF recall $recall vs brute force below 0.5 (nProbe=4/16 cells)")
  }

  test("q26's fixture check names the missing path instead of PATH_NOT_FOUND") {
    val absent = java.nio.file.Files.createTempDirectory("qs_fixture_").resolve("absent.csv")
    val e = intercept[java.io.FileNotFoundException](QuerySuite.requireFixture(absent.toString))
    assert(e.getMessage == s"fixture missing: $absent")
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
