package graft.ops

import graft.SparkSpecBase

/** The shared index-commit protocol: stage → rename → pointer publish.
  * The crash matrix simulates a writer dying between each pair of steps
  * and asserts the OLD state serves throughout — the r14 verdict's
  * "rebuild becomes atomic" requirement for all four index families,
  * plus the lifecycle entry points those families run. */
class ManifestSpec extends SparkSpecBase {
  import spark.implicits._

  private def newDir() =
    java.nio.file.Files.createTempDirectory("manifest_").toString

  private def writeDelta(staging: String, rows: Seq[(Long, String)]): String = {
    rows.toDF("id", "v").write.mode("overwrite").parquet(s"$staging/t")
    staging
  }

  private def served(dir: String): Set[(Long, String)] = {
    val live = Manifest.livePaths(spark, dir)
    if (live.isEmpty) Set.empty
    else spark.read.parquet(live.map(p => s"$p/t"): _*)
      .as[(Long, String)].collect().toSet
  }

  test("commit publishes; empty dir serves empty; versions increase") {
    val dir = newDir()
    assert(Manifest.current(spark, dir) == Manifest.State(0L, Nil))
    val s1 = Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(1L -> "a"))))
    assert(s1.version == 1L && s1.deltas.size == 1)
    assert(served(dir) == Set(1L -> "a"))
    val s2 = Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(2L -> "b"))))
    assert(s2.version == 2L && s2.deltas.size == 2)
    assert(served(dir) == Set(1L -> "a", 2L -> "b"))
  }

  test("crash before commit: a fully written staging dir is invisible") {
    val dir = newDir()
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(1L -> "a"))))
    writeDelta(Manifest.stage(dir), Seq(99L -> "dead")) // never committed
    assert(served(dir) == Set(1L -> "a"))
  }

  test("crash between data-rename and pointer publish: old state serves") {
    val dir = newDir()
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(1L -> "a"))))
    // simulate: the writer renamed tmp_x -> d_x but died before the
    // manifest write — an unreferenced d_* dir
    val orphan = Manifest.stage(dir).replace("tmp_", "d_")
    writeDelta(orphan, Seq(99L -> "dead"))
    assert(served(dir) == Set(1L -> "a"),
      "unreferenced d_* dir must not serve")
    // and gc with age 0 collects it without touching the live delta
    val deleted = Manifest.gc(spark, dir, minAgeMs = 0L)
    assert(deleted.exists(_.startsWith("d_")), s"gc skipped the orphan: $deleted")
    assert(served(dir) == Set(1L -> "a"))
  }

  test("removeAll rebuild is one pointer flip; dropped deltas survive gc age gate") {
    val dir = newDir()
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(1L -> "a"))))
    val oldLive = Manifest.livePaths(spark, dir)
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(2L -> "b"))), removeAll = true)
    assert(served(dir) == Set(2L -> "b"))
    assert(oldLive.forall(p =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "a fresh (< minAge) unreferenced delta must not be deleted")
    Manifest.gc(spark, dir, minAgeMs = 1000L * 3600L)
    assert(oldLive.forall(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    Manifest.gc(spark, dir, minAgeMs = 0L)
    assert(oldLive.forall(p =>
        !java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "aged unreferenced delta must be collected")
    assert(served(dir) == Set(2L -> "b"))
  }

  test("a delta appended during compaction survives the compactor's commit") {
    val dir = newDir()
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(1L -> "a"))))
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(2L -> "b"))))
    // compactor snapshots the live list…
    val snap = Manifest.current(spark, dir)
    // …a concurrent append commits AFTER the snapshot…
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(3L -> "c"))))
    // …compactor merges ONLY its snapshot and removes ONLY those deltas
    val merged = writeDelta(Manifest.stage(dir), Seq(1L -> "a", 2L -> "b"))
    Manifest.commit(spark, dir, Seq(merged), remove = snap.deltas)
    assert(served(dir) == Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "the concurrently appended delta was lost by compaction")
    assert(Manifest.current(spark, dir).deltas.size == 2)
  }

  test("time travel: stateAt serves each retained snapshot exactly; typed on gc'd/missing") {
    val dir = newDir()
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(1L -> "a"))))
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(2L -> "b"))))
    // rebuild drops delta 1+2 from the LIVE list, but v1/v2 manifests +
    // their deltas are retained until gc ages them out
    Manifest.commit(spark, dir,
      Seq(writeDelta(Manifest.stage(dir), Seq(3L -> "c"))), removeAll = true)
    def servedAt(v: Long): Set[(Long, String)] =
      spark.read.parquet(
          Manifest.livePathsAt(spark, dir, v).map(p => s"$p/t"): _*)
        .as[(Long, String)].collect().toSet
    assert(servedAt(1L) == Set(1L -> "a"))
    assert(servedAt(2L) == Set(1L -> "a", 2L -> "b"))
    assert(servedAt(3L) == Set(3L -> "c"))
    assert(Manifest.stateAt(spark, dir, 3L) == Manifest.current(spark, dir))
    intercept[IllegalArgumentException] { Manifest.stateAt(spark, dir, 4L) }
    intercept[IllegalArgumentException] { Manifest.stateAt(spark, dir, 0L) }
    // history lists every retained version oldest-first
    val hist = Manifest.history(spark, dir)
    assert(hist.map(_.version) == Seq(1L, 2L, 3L))
    assert(hist.last == Manifest.current(spark, dir))
    // gc past the age gate prunes superseded manifests → typed failure,
    // and the CURRENT version keeps serving
    Manifest.gc(spark, dir, minAgeMs = 0L)
    intercept[IllegalArgumentException] { Manifest.stateAt(spark, dir, 1L) }
    assert(Manifest.history(spark, dir).map(_.version) == Seq(3L))
    assert(servedAt(3L) == Set(3L -> "c"))
  }

  test("staged paths must be tmp_* children that exist") {
    val dir = newDir()
    intercept[IllegalArgumentException] {
      Manifest.commit(spark, dir, Seq(s"$dir/not_a_staging"))
    }
    intercept[IllegalArgumentException] {
      Manifest.commit(spark, dir, Seq(Manifest.stage(dir))) // never written
    }
    intercept[IllegalArgumentException] {
      Manifest.commit(spark, dir, Nil) // empty commit
    }
  }

  private def stagingDirs(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.startsWith("tmp_"))

  test("lifecycle: rebuild replaces, keyed append runs once, snapshot fails typed") {
    val dir = newDir()
    val empty = intercept[IllegalArgumentException] {
      Manifest.snapshot(spark, dir, None, "test index")
    }
    assert(empty.getMessage.contains("no live test index under"))
    Manifest.append(spark, dir)(writeDelta(_, Seq(1L -> "a")))
    Manifest.rebuild(spark, dir)(writeDelta(_, Seq(2L -> "b")))
    assert(served(dir) == Set(2L -> "b"), "rebuild must drop the old delta")
    Manifest.append(spark, dir, Some("batch=1"))(writeDelta(_, Seq(3L -> "c")))
    var replayed = false
    Manifest.append(spark, dir, Some("batch=1")) { st =>
      replayed = true; writeDelta(st, Seq(3L -> "c"))
    }
    assert(!replayed, "a live key must return before the write runs")
    assert(stagingDirs(dir).isEmpty)
    assert(Manifest.snapshot(spark, dir, None, "test index").deltas.size == 2)
    assert(Manifest.snapshot(spark, dir, Some(2L), "test index") ==
      Manifest.stateAt(spark, dir, 2L))
    intercept[IllegalArgumentException] {
      Manifest.snapshot(spark, dir, Some(9L), "test index")
    }
  }

  test("lifecycle: compact merges each table of the deltas holding it, keeps markers") {
    val dir = newDir()
    Manifest.append(spark, dir, Some("batch=1"))(writeDelta(_, Seq(1L -> "a")))
    Manifest.append(spark, dir, Some("batch=2"))(writeDelta(_, Seq(2L -> "b")))
    // a delta without the declared table is not read, so it stays live
    Manifest.append(spark, dir) { st =>
      Seq(9L -> "x").toDF("id", "v").write.parquet(s"$st/other")
    }
    val before = Manifest.current(spark, dir).deltas
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    Manifest.compact(spark, dir, Seq(("t", (ins, out) => {
      seen.add(ins.size)
      spark.read.parquet(ins: _*).write.parquet(out)
    })))
    assert(seen.toArray.toSeq == Seq(2))
    val after = Manifest.current(spark, dir).deltas
    assert(after.size == 2 && after.head == before.last,
      s"only the two deltas holding `t` are removed: $before -> $after")
    assert(spark.read.parquet(s"$dir/${after.last}/t").as[(Long, String)]
      .collect().toSet == Set(1L -> "a", 2L -> "b"))
    assert(Manifest.isCommitted(spark, dir, "batch=1") &&
      Manifest.isCommitted(spark, dir, "batch=2"))
    val v = Manifest.current(spark, dir).version
    Manifest.compact(spark, dir, Seq(("t", (_, _) => fail("nothing to merge"))))
    assert(Manifest.current(spark, dir).version == v, "one holder: no-op")
  }
}
