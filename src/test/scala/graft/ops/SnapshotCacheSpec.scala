package graft.ops

import java.nio.file.Files

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class SnapshotCacheSpec extends SparkSpecBase {
  import spark.implicits._

  test("getOrCompute: hit returns the SAME object; distinct keys don't collide") {
    SnapshotCache.clear()
    var computes = 0
    def get(k: String) = SnapshotCache.getOrCompute(k) {
      computes += 1; new java.lang.Object
    }()
    val a1 = get("k1"); val a2 = get("k1"); val b = get("k2")
    assert(a1 eq a2)
    assert(!(a1 eq b))
    assert(computes == 2)
  }

  test("distinct-key computes OVERLAP (per-key latches, r17): a slow build " +
      "of one snapshot does not serialize a probe of another") {
    SnapshotCache.clear()
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var overlapped = false
    @volatile var aFailed: Throwable = null
    val tA = new Thread(() => {
      try SnapshotCache.getOrCompute("latchSpecA") {
        aStarted.countDown()
        // B's whole getOrCompute must complete while A is mid-compute —
        // impossible under the old global compute lock
        overlapped = bDone.await(10, java.util.concurrent.TimeUnit.SECONDS)
        "a": AnyRef
      }()
      catch { case t: Throwable => aFailed = t }
    })
    tA.start()
    assert(aStarted.await(10, java.util.concurrent.TimeUnit.SECONDS))
    SnapshotCache.getOrCompute("latchSpecB") { "b": AnyRef }()
    bDone.countDown()
    tA.join(15000)
    assert(aFailed == null, s"thread A failed: $aFailed")
    assert(overlapped, "key B's compute should finish while key A builds")
    // both values cached normally afterwards
    assert(SnapshotCache.getOrCompute[AnyRef]("latchSpecA")(
      fail("must be a hit"))() == "a")
    assert(SnapshotCache.getOrCompute[AnyRef]("latchSpecB")(
      fail("must be a hit"))() == "b")
  }

  test("a compute that throws leaves no latch behind; the next call computes") {
    SnapshotCache.clear()
    val before = SnapshotCache.pendingBuilds
    val e = intercept[IllegalStateException] {
      SnapshotCache.getOrCompute[AnyRef]("throwingBuild") {
        throw new IllegalStateException("build failed")
      }()
    }
    assert(e.getMessage == "build failed")
    assert(SnapshotCache.pendingBuilds == before)
    var computes = 0
    val v = SnapshotCache.getOrCompute[AnyRef]("throwingBuild") {
      computes += 1; "rebuilt"
    }()
    assert(v == "rebuilt" && computes == 1)
    assert(SnapshotCache.pendingBuilds == before)
  }

  test("persisted holds a frame per key; a new key over grown files is " +
      "not served the old cache; clear() unpersists") {
    SnapshotCache.clear()
    val dir = Files.createTempDirectory("snap_persisted_").toString
    spark.range(0, 10).write.parquet(s"$dir/part=1")
    def total(k: String) = SnapshotCache.persisted(k)(
      spark.read.parquet(dir).agg(sum(col("id")).as("s")))
    val a = total("t|1")
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(a.head().getLong(0) == 45L)
    assert(total("t|1") eq a)
    spark.range(10, 20).write.parquet(s"$dir/part=2")
    assert(total("t|2").head().getLong(0) == 190L)
    SnapshotCache.clear()
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("same-key racers compute exactly once (per-key latch, r17)") {
    SnapshotCache.clear()
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    def get(): AnyRef = SnapshotCache.getOrCompute("sameKeyRace") {
      computes.incrementAndGet()
      entered.countDown()
      release.await(10, java.util.concurrent.TimeUnit.SECONDS)
      new java.lang.Object
    }()
    val r1 = new java.util.concurrent.atomic.AtomicReference[AnyRef]()
    val r2 = new java.util.concurrent.atomic.AtomicReference[AnyRef]()
    val t1 = new Thread(() => r1.set(get()))
    t1.start()
    assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS))
    val t2 = new Thread(() => r2.set(get()))
    t2.start()
    Thread.sleep(50) // let t2 reach the latch
    release.countDown()
    t1.join(15000); t2.join(15000)
    assert(computes.get() == 1, "same key must build once")
    assert(r1.get() != null && (r1.get() eq r2.get()),
      "both racers must see the one built instance")
  }

  test("LM serving caches per manifest version; append invalidates by key") {
    SnapshotCache.clear()
    val dir = Files.createTempDirectory("lmcache").toString
    val t1 = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val t2 = Seq((3L, "d e f d")).toDF("doc_id", "text")
    val batch = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    LmIndex.build(t1, "text", dir)
    val v1 = Manifest.current(spark, dir).version
    val s1 = LmIndex.score(spark, dir, batch, "doc_id", "text")
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect().toSeq
    // repeat probe of the same version: same result through the cache
    val s1b = LmIndex.score(spark, dir, batch, "doc_id", "text")
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect().toSeq
    assert(s1 == s1b)
    LmIndex.append(t2, "text", dir)
    val v2 = Manifest.current(spark, dir).version
    assert(v2 > v1)
    // the appended snapshot serves NEW counts (cache keyed by version,
    // so the old entry cannot shadow it) …
    val s2 = LmIndex.score(spark, dir, batch, "doc_id", "text")
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect().toSeq
    assert(s1 != s2, "append must change the served model")
    // … and time travel back to v1 is bit-identical to the original
    val s1t = LmIndex.scoreAt(spark, dir, v1, batch, "doc_id", "text")
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect().toSeq
    assert(s1t == s1)
  }

  test("IVF serving caches the quantizer per version; rebuild re-keys") {
    SnapshotCache.clear()
    val dir = Files.createTempDirectory("ivfcache").toString
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat))
    }.toDF("n_id", "nv")
    val m = Ivf.train(vecs.select($"n_id".as("id"), $"nv".as("v")),
      "id", "v", nc = 4, iters = 2, seed = 42)
    Ivf.writeIndex(vecs, "nv", m, dir)
    val queries = vecs.filter($"n_id" < 2)
      .select($"n_id".as("q_id"), $"nv".as("qv"))
    val r1 = Ivf.probeIndex(spark, dir, queries, k = 3)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    // second probe rides the cached model + cells plan — identical
    val r2 = Ivf.probeIndex(spark, dir, queries, k = 3)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert(r1 == r2)
    // loadModel twice returns the SAME cached instance (no second job)
    val m1 = Ivf.loadModel(spark, dir)
    val m2 = Ivf.loadModel(spark, dir)
    assert(m1 eq m2)
  }
}
