package graft

/** Driver-contract smoke: every declared query runs at sf0.001, entry()
  * returns rows, and the registry keeps its names distinct. (Value-level
  * correctness is the DuckDB oracle gate — tools/check_correctness.py.) */
class QueriesSmokeSpec extends SparkSpecBase {
  private val sfDir = "/root/testdata/sf0.001"

  test("entry() returns rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the registry declares 289 distinct names and rejects a repeated one") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size == 289 && names.distinct.size == 289)
    val repeated = SparkEntry.all.take(2) :+ SparkEntry.all.head
    val e = intercept[IllegalArgumentException](SparkEntry.registry(repeated))
    assert(e.getMessage == s"requirement failed: duplicate query names: ${names.head}")
  }

  for (Query(name, fn, _) <- SparkEntry.all.sortBy(_.name)) {
    test(s"$name runs at sf0.001 and is deterministic") {
      val df1 = fn(spark, sfDir)
      val rows1 = df1.collect()
      assert(rows1 != null)
      // determinism: a second run, recomputing every pin the first made,
      // yields the identical ordered result
      graft.core.Pin.release(spark)
      val rows2 = fn(spark, sfDir).collect()
      assert(rows1.toSeq == rows2.toSeq, s"$name nondeterministic")
    }
  }
}
