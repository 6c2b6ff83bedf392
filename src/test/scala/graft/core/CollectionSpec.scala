package graft.core

import graft.SparkSpecBase
import graft.embed.HashEmbedder
import java.nio.file.Files

/** E2E ports of the reference's test flows (SURVEY.md §5.2, FIXTURES.md):
  * the car-review ETL (cosine_etl_test, embeddings.rs:588-669) with an
  * in-memory fixture shaped like the Tesla CSV, and the 10-sentence
  * nearest test (embeddings.rs:671-719) with the deterministic hash
  * embedder.
  */
class CollectionSpec extends SparkSpecBase {
  import spark.implicits._

  private val embedder = HashEmbedder(dim = 64)
  private def freshWarehouse(): String =
    Files.createTempDirectory("graft_wh_").toString

  /** Car-review-shaped fixture (FIXTURES.md §1): (id, document, metadata). */
  private def reviewDocs() = {
    val rows = Seq(
      (2017, 5, "Great car, amazing autopilot and range."),
      (2017, 4, "Solid ride though the seats could be better."),
      (2017, 2, "Too many rattles for the price."),
      (2016, 5, "Old but gold, still love driving it."),
      (2018, 4, "The newer model fixed most issues."),
      (2017, 5, "Charging network makes road trips painless."))
    rows.zipWithIndex.map { case ((year, rating, review), i) =>
      (s"id$i", review, Seq(s"""{"Year": $year}""", s"""{"Rating": $rating}"""))
    }.toDF("id", "document", "metadata")
  }

  test("cosine ETL e2e: create, save, filtered query, delete") {
    val wh = freshWarehouse()
    val coll = Collection.create(spark, wh, "test_collection", reviewDocs(), embedder)
    // catalog state (reference: set_key_indexes/set_view_indexes)
    val cat = Collection.catalog(spark, wh)
    assert(cat.views() == Seq("test_collection"))
    assert(cat.keys().head.startsWith("key-"))

    // filtered query: Year eq 2017 AND Rating gt 3 (embeddings.rs:635-638)
    val res = coll.cosineQuery("best car reviews", embedder, 10,
      Seq("""{"Year": {"eq": 2017}}""", """{"Rating": {"gt": 3}}"""))
    val rows = res.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // every returned row satisfies the filter
    val ids = rows.map(_.getAs[String]("id")).toSet
    assert(ids.subsetOf(Set("id0", "id1", "id5")))
    // similarities positive and sorted descending (our top-k divergence)
    val sims = rows.map(_.getAs[Double]("similarity"))
    assert(sims.forall(_ > 0.0))
    assert(sims.sameElements(sims.sortBy(-_)))

    // k=0 returns all matches (embeddings.rs:327,373)
    val all = coll.cosineQuery("best car reviews", embedder, 0)
    assert(all.count() >= res.count())

    // find by view; key overrides view (embeddings.rs:545-569)
    val found = Collection.find(spark, wh, Some("test_collection"))
    assert(found.info.key == coll.info.key)
    val byKey = Collection.find(spark, wh, Some("nonexistent"), Some(coll.info.key))
    assert(byKey.info.view == "test_collection")

    // delete removes data + catalog entries (embeddings.rs:419-455)
    Collection.delete(spark, wh, "test_collection")
    assert(cat.views().isEmpty)
    intercept[ViewNotFound](Collection.find(spark, wh, Some("test_collection")))
  }

  test("nearest query e2e: 10-sentence corpus (embeddings.rs:671-719)") {
    val wh = freshWarehouse()
    val sentences = Seq(
      "The latest iPhone model comes with impressive features and a powerful camera.",
      "Exploring the beautiful beaches and vibrant culture of Bali is a dream for many travelers.",
      "Einstein's theory of relativity revolutionized our understanding of space and time.",
      "Traditional Italian pizza is famous for its thin crust, fresh ingredients, and wood-fired ovens.",
      "The American Revolution had a profound impact on the birth of the United States as a nation.",
      "Regular exercise and a balanced diet are essential for maintaining good physical health.",
      "Leonardo da Vinci's Mona Lisa is considered one of the most iconic paintings in art history.",
      "Climate change poses a significant threat to the planet's ecosystems and biodiversity.",
      "Startup companies often face challenges in securing funding and scaling their operations.",
      "Beethoven's Symphony No. 9 is celebrated for its powerful choral finale, 'Ode to Joy.'")
    val docs = sentences.zipWithIndex
      .map { case (s, i) => (s"id$i", s, Seq.empty[String]) }
      .toDF("id", "document", "metadata")
    val coll = Collection.create(spark, wh, "nearest_coll", docs, embedder)

    // with a lexical hash embedder, the semantically-nearest assertion
    // becomes: engine top-1 == brute-force argmin over the same embedder
    val query = "Find me some delicious food!"
    val qv = embedder.embedBatch(Seq(query)).head
    val expected = sentences.zipWithIndex.minBy { case (s, _) =>
      val sv = embedder.embedOne(s)
      math.sqrt(sv.zip(qv).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum)
    }._2
    val got = coll.nearestQuery(query, embedder).collect().head.getAs[String]("id")
    assert(got == s"id$expected")
    Collection.delete(spark, wh, "nearest_coll")
  }

  test("create validates view name and uniqueness") {
    val wh = freshWarehouse()
    val docs = Seq(("id0", "doc", Seq.empty[String])).toDF("id", "document", "metadata")
    intercept[InvalidViewName](
      Collection.create(spark, wh, "bad name!", docs, embedder))
    Collection.create(spark, wh, "dup", docs, embedder)
    intercept[DuplicateView](
      Collection.create(spark, wh, "dup", docs, embedder))
  }

  test("null documents embed as zero vectors instead of failing") {
    val wh = freshWarehouse()
    val docs = Seq(("id0", "real text", Seq.empty[String]),
      ("id1", null.asInstanceOf[String], Seq.empty[String]))
      .toDF("id", "document", "metadata")
    val coll = Collection.create(spark, wh, "null_doc", docs, embedder)
    val vecs = coll.df.orderBy("id").select("embedding")
      .as[Array[Float]].collect()
    assert(vecs.length == 2)
    assert(vecs(1).forall(_ == 0f))
  }

  test("embedding column: correct dim, deterministic across saves") {
    val wh = freshWarehouse()
    val docs = Seq(("id0", "alpha beta", Seq.empty[String]),
      ("id1", "gamma delta", Seq.empty[String])).toDF("id", "document", "metadata")
    val c1 = Collection.create(spark, wh, "det_a", docs, embedder)
    val c2 = Collection.create(spark, wh, "det_b", docs, embedder)
    val v1 = c1.df.orderBy("id").select("embedding").as[Array[Float]].collect()
    val v2 = c2.df.orderBy("id").select("embedding").as[Array[Float]].collect()
    assert(v1.length == 2 && v1.forall(_.length == 64))
    assert(v1.zip(v2).forall { case (a, b) => a.sameElements(b) })
  }

  test("catalog reads entries written before partitionCols existed") {
    val wh = freshWarehouse()
    val coll = Collection.create(spark, wh, "old_schema", reviewDocs(), embedder)
    // a catalog written by the pre-partitionCols code: the entry has no
    // such field (written through the Hadoop FS, which keeps the .crc
    // sidecar valid)
    val info0 = coll.info
    val legacy =
      s"""[{"view":"old_schema","key":"${info0.key}","path":"${info0.path}",""" +
      s""""modelType":"${info0.modelType}","dim":${info0.dim},"createdAt":${info0.createdAt}}]"""
    val file = new org.apache.hadoop.fs.Path(s"$wh/_catalog.json")
    val out = file.getFileSystem(spark.sparkContext.hadoopConfiguration).create(file, true)
    try out.write(legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // find must still decode (partitionCols defaults to empty) …
    val info = Collection.catalog(spark, wh).find("old_schema").getOrElse(fail("view not found"))
    assert(info == info0)
    // … and the collection remains fully usable
    val found = Collection.find(spark, wh, Some("old_schema"))
    assert(found.df.count() == 6)
  }

  test("catalog round-trips quotes, backslashes, tabs and non-ASCII text") {
    val wh = freshWarehouse()
    val cat = Collection.catalog(spark, wh)
    val odd = "a \"quoted\" \\ back\tslash ü"
    val info = CollectionInfo(view = "odd_chars", key = "key-odd", path = s"$wh/$odd",
      modelType = odd, dim = 8, createdAt = 1L, partitionCols = Seq("lang"))
    cat.add(info)
    assert(Collection.catalog(spark, wh).find("odd_chars") == Some(info))
    assert(cat.findByKey("key-odd") == Some(info))
  }

  test("find, views and keys run no Spark job") {
    val wh = freshWarehouse()
    val coll = Collection.create(spark, wh, "no_jobs", reviewDocs(), embedder)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(Collection.find(spark, wh, Some("no_jobs")).info == coll.info)
      assert(Collection.find(spark, wh, None, Some(coll.info.key)).info == coll.info)
      val cat = Collection.catalog(spark, wh)
      assert(cat.views() == Seq("no_jobs") && cat.keys() == Seq(coll.info.key))
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
      assert(jobs.get() == 0, s"${jobs.get()} Spark jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("reembed migrates to a new model: new dim, same docs, old version kept") {
    val wh = freshWarehouse()
    val coll = Collection.create(spark, wh, "migrate_me", reviewDocs(), embedder)
    val oldPath = coll.info.path
    val newEmb = HashEmbedder(dim = 32, seed = 7)
    val migrated = coll.reembed(wh, newEmb, modelType = "hash32")

    // catalog sees the new (vectors, dim, model) consistently
    val info = Collection.catalog(spark, wh).find("migrate_me")
      .getOrElse(fail("view lost"))
    assert(info.dim == 32 && info.modelType == "hash32")
    assert(info.path != oldPath)
    // documents and ids survive; embeddings have the new dimensionality
    assert(migrated.df.count() == 6)
    assert(migrated.ids.as[String].collect().sorted.toSeq
      == (0 to 5).map(i => s"id$i"))
    val dims = migrated.df
      .select(org.apache.spark.sql.functions.size($"embedding"))
      .distinct().as[Int].collect().toSeq
    assert(dims == Seq(32))
    // queries run against the migrated vectors with the NEW embedder
    val hits = migrated.cosineQuery("amazing autopilot range", newEmb, 3, Nil)
    assert(hits.count() == 3)
    // previous version retained for in-flight readers (deferred delete)
    assert(spark.read.parquet(oldPath).count() == 6)
    // a subsequent compact keeps everything consistent
    val compacted = migrated.compact(wh)
    assert(compacted.df.count() == 6 && compacted.info.dim == 32)
  }
}
