package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.core.Pin._
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class PinSpec extends SparkSpecBase {

  private def frame(tag: String) =
    spark.range(0, 1000).select((col("id") % 7).as("k"), col("id"))
      .groupBy(col("k")).agg(sum(col("id")).as("s"), lit(tag).as("tag"))
      .orderBy(col("k"))

  test("pin registers a frame and release unpersists it") {
    Pin.release(spark)
    val p = frame("registered").pin
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Pin.live(spark) == 1)
    assert(p.count() == 7L)
    assert(Pin.release(spark) == 1)
    assert(p.storageLevel == StorageLevel.NONE)
    assert(Pin.live(spark) == 0)
    assert(Pin.release(spark) == 0)
  }

  test("a frame its caller already persisted is neither registered nor released") {
    Pin.release(spark)
    val owned = frame("owned").persist(StorageLevel.MEMORY_ONLY)
    try {
      assert(owned.pin eq owned)
      assert(Pin.live(spark) == 0)
      assert(Pin.release(spark) == 0)
      assert(owned.storageLevel == StorageLevel.MEMORY_ONLY)
    } finally owned.unpersist(blocking = true)
  }

  test("a released frame recomputes to the same rows") {
    val p = frame("recomputed").pin
    val before = p.collect().toSeq
    Pin.release(spark)
    assert(p.storageLevel == StorageLevel.NONE)
    assert(p.collect().toSeq == before)
  }

  test("a pin over a file scan is not served to a later read of that path") {
    val dir = java.nio.file.Files.createTempDirectory("pin_scan_").toString
    spark.range(0, 10).write.parquet(s"$dir/part=1")
    def total = spark.read.parquet(dir).agg(sum(col("id")).as("s")).pin
      .head().getLong(0)
    assert(total == 45L)
    spark.range(10, 20).write.parquet(s"$dir/part=2")
    assert(total == 190L)
  }

  test("pinning the same plan again in one run reuses its cache") {
    val dir = java.nio.file.Files.createTempDirectory("pin_again_").toString
    spark.range(0, 10).write.mode("overwrite").parquet(dir)
    def total = spark.read.parquet(dir).agg(sum(col("id")).as("s"))
    Pin.release(spark)
    assert(total.pin.head().getLong(0) == 45L)
    val again = total.pin
    assert(again.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Pin.live(spark) == 1)
  }

  test("cut truncates lineage and is not registered") {
    Pin.release(spark)
    val c = Pin.cut(frame("cut"), eager = true)
    assert(c.queryExecution.logical.getClass.getSimpleName == "LogicalRDD")
    assert(Pin.live(spark) == 0)
    assert(c.count() == 7L)
  }

  test("source scan: Spark's pin methods are called only in Pin " +
      "(and SnapshotCache-owned frames in SnapshotCache/LmIndex/TextIndex)") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq
    def hits(p: Path, needles: Seq[String]): Seq[String] =
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if needles.exists(l.contains) => s"${root.relativize(p)}:${i + 1}: ${l.trim}"
      }.toSeq
    val name = (p: Path) => p.getFileName.toString
    val checkpoints = files.filterNot(name(_) == "Pin.scala")
      .flatMap(hits(_, Seq("localCheckpoint(", ".cache()")))
    assert(checkpoints.isEmpty, checkpoints.mkString("\n"))
    val persists = files
      .filterNot(p => Set("Pin.scala", "SnapshotCache.scala", "LmIndex.scala",
        "TextIndex.scala")(name(p)))
      .flatMap(hits(_, Seq("persist(", "unpersist(")))
    assert(persists.isEmpty, persists.mkString("\n"))
  }
}
