package graft.operators

import graft.SparkSuite

/** dq_referential's NULL-key handling on frames small enough to count by
  * hand: a NULL foreign key is an orphan, a NULL parent key is childless,
  * and a side with no NULL keys contributes no row. */
class DqReferentialSpec extends SparkSuite {

  private def keys(ks: Option[Long]*) = {
    import spark.implicits._
    ks.map(Tuple1(_)).toDF("k")
  }

  private def audit(child: Seq[Option[Long]], parent: Seq[Option[Long]]) = {
    val keyed = RelationalOps.dqKeyed("c->p", keys(child: _*), "k",
      keys(parent: _*), "k")
    val emptyRows = keyed.filter("n_c IS NULL AND n_p IS NULL").count()
    val r = RelationalOps.dqAudit(Seq(keyed)).collect().head
    (emptyRows, Seq("n_child", "n_orphans", "n_parent", "n_childless")
      .map(c => r.getAs[Long](c)))
  }

  test("NULL foreign keys on the child side only") {
    // children 1, 1, 2, NULL, NULL against parents 1, 3: orphans are the
    // 2 and both NULLs, the childless parent is 3
    val (empty, counts) = audit(
      Seq(Some(1L), Some(1L), Some(2L), None, None), Seq(Some(1L), Some(3L)))
    assert(empty === 0)
    assert(counts === Seq(5L, 3L, 2L, 1L))
  }

  test("NULL keys on the parent side only") {
    // children 1, 2 against parents 1, NULL, NULL, 4: the orphan is the 2,
    // the childless parents are both NULLs and the 4
    val (empty, counts) = audit(
      Seq(Some(1L), Some(2L)), Seq(Some(1L), None, None, Some(4L)))
    assert(empty === 0)
    assert(counts === Seq(2L, 1L, 4L, 3L))
  }
}
