package graft.streaming

import graft.SparkSpecBase
import graft.core.Collection
import graft.embed.HashEmbedder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

class CollectionIngestSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming docs append to a collection and are queryable") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_ingest_wh_").toString
    val ckpt = Files.createTempDirectory("graft_ingest_ck_").toString
    val embedder = HashEmbedder(dim = 32)
    val seed = Seq(("id0", "first document about spark", Seq.empty[String]))
      .toDF("id", "document", "metadata")
    val coll = Collection.create(spark, wh, "stream_coll", seed, embedder)
    assert(coll.df.count() == 1)

    val mem = MemoryStream[(String, String, Seq[String])]
    val stream = mem.toDF().toDF("id", "document", "metadata")
    val q = CollectionIngest.appendStream(coll, stream, embedder, ckpt)
    mem.addData(("id1", "second document about parquet", Seq.empty[String]),
      ("id2", "third document about vectors", Seq.empty[String]))
    q.processAllAvailable()
    q.stop()

    val df = coll.df
    assert(df.count() == 3)
    assert(df.select("embedding").as[Array[Float]].collect().forall(_.length == 32))
    // appended rows are immediately queryable through the cosine path
    val hits = coll.cosineQuery("document about vectors", embedder, 3)
    assert(hits.count() > 0)
  }

  test("compact collapses small files and swaps the catalog path") {
    val wh = Files.createTempDirectory("graft_compact_wh_").toString
    val embedder = HashEmbedder(dim = 16)
    val docs = (0 until 20).map(i => (s"id$i", s"doc number $i", Seq.empty[String]))
      .toDF("id", "document", "metadata")
    val coll = Collection.create(spark, wh, "compact_me", docs.repartition(8), embedder)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(coll.info.path) > 1)

    val compacted = coll.compact(wh, numFiles = 1)
    assert(parquetFiles(compacted.info.path) == 1)
    assert(compacted.df.count() == 20)
    // catalog now resolves the new path; the immediately-previous version
    // is KEPT (deferred deletion — a concurrent reader that resolved the
    // old path before the swap keeps a consistent snapshot)
    val found = Collection.find(spark, wh, Some("compact_me"))
    assert(found.info.path == compacted.info.path)
    assert(new java.io.File(coll.info.path).exists())
    // a second compact retires the original dir (now two versions old)
    val again = compacted.compact(wh, numFiles = 1)
    assert(again.df.count() == 20)
    assert(!new java.io.File(coll.info.path).exists())
    assert(new java.io.File(compacted.info.path).exists())
    // delete() removes current data, kept versions, and the catalog entry
    Collection.delete(spark, wh, "compact_me")
    assert(!new java.io.File(again.info.path).exists())
    assert(!new java.io.File(s"$wh/collections/compact_me").exists())
  }

  test("compact preserves the hive partitionBy layout chosen at create()") {
    val wh = Files.createTempDirectory("graft_compact_part_wh_").toString
    val embedder = HashEmbedder(dim = 16)
    val docs = (0 until 12).map(i =>
      (s"id$i", s"doc number $i", Seq.empty[String], if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "document", "metadata", "lang")
    val coll = Collection.create(spark, wh, "compact_part", docs.repartition(6),
      embedder, partitionBy = Seq("lang"))
    assert(coll.info.partitionCols == Seq("lang"))
    val compacted = coll.compact(wh, numFiles = 1)
    // hive layout re-applied: lang=en / lang=fr subdirs in the new version
    val subdirs = new java.io.File(compacted.info.path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs == Set("lang=en", "lang=fr"))
    assert(compacted.df.count() == 12)
    // partition pruning still works post-compact
    assert(compacted.df.where($"lang" === "en").count() == 6)
  }

  test("delete after exactly ONE compact removes the original create() dir too") {
    val wh = Files.createTempDirectory("graft_del1_wh_").toString
    val embedder = HashEmbedder(dim = 16)
    val docs = (0 until 6).map(i => (s"id$i", s"doc $i", Seq.empty[String]))
      .toDF("id", "document", "metadata")
    val coll = Collection.create(spark, wh, "del_once", docs, embedder)
    val origPath = coll.info.path
    val compacted = coll.compact(wh, numFiles = 1)
    // after one compact the create() dir is still the kept previous version
    assert(new java.io.File(origPath).exists())
    Collection.delete(spark, wh, "del_once")
    // nothing of the collection survives deletion — not the compacted
    // version, not the pre-compact original, not their directory
    assert(!new java.io.File(compacted.info.path).exists())
    assert(!new java.io.File(origPath).exists())
    assert(!new java.io.File(s"$wh/collections/del_once").exists())
  }
}
