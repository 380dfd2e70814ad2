package graft.operators

import graft.SparkSpec

/** Paging.paginate against the window formulation it replaces —
  * including the edges the oracle fixtures don't reach: null keys
  * (NULLS FIRST rank parity) and identical-row ties across the page
  * boundary.
  */
class PagingSpec extends SparkSpec {
  import spark.implicits._

  test("paginate matches row_number semantics incl. null keys first") {
    val df = Seq(
      (Some(3L), "c"), (None, "z"), (Some(1L), "a"), (Some(2L), "b"))
      .toDF("k", "v")
    val got = Paging.paginate(df, Seq("k"), from = 0, size = 4)
      .select("k", "v", "rn").collect()
      .map(r => (Option(r.get(0)), r.getString(1), r.getInt(2))).toSet
    // null sorts first (Spark asc default), then 1, 2, 3
    assert(got == Set(
      (None, "z", 1), (Some(1L), "a", 2),
      (Some(2L), "b", 3), (Some(3L), "c", 4)))
  }

  test("identical rows straddling the page cut get consecutive ranks") {
    val df = Seq((1L, "x"), (2L, "dup"), (2L, "dup"), (2L, "dup"),
      (3L, "y")).toDF("k", "v")
    val page = Paging.paginate(df, Seq("k", "v"), from = 1, size = 2)
      .select("k", "v", "rn").as[(Long, String, Int)].collect().toSet
    // full ranking: (1,x)=1, (2,dup)=2,3,4, (3,y)=5 → page (1,2] = rns 2,3
    assert(page == Set((2L, "dup", 2), (2L, "dup", 3)))
  }
}
