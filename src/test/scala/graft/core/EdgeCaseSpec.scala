package graft.core

import graft.SparkSpecBase
import graft.embed.HashEmbedder
import graft.core.typed._
import java.nio.file.Files

/** Edge cases around the reference's behaviors: empty results, k > N,
  * k = 0, delete-missing, typed facade round-trip. */
class EdgeCaseSpec extends SparkSpecBase {
  import spark.implicits._

  private val embedder = HashEmbedder(dim = 16)

  private def mkColl(name: String) = {
    val wh = Files.createTempDirectory("graft_edge_").toString
    val docs = Seq(
      ("id0", "alpha beta gamma", Seq("""{"Year": 2020}""")),
      ("id1", "delta epsilon zeta", Seq("""{"Year": 2021}""")))
      .toDF("id", "document", "metadata")
    (wh, Collection.create(spark, wh, name, docs, embedder))
  }

  test("filters eliminating all rows yield an empty result, not an error") {
    val (_, coll) = mkColl("edge_empty")
    val res = coll.cosineQuery("alpha", embedder, 10, Seq("""{"Year": {"gt": 3000}}"""))
    assert(res.count() == 0)
  }

  test("k greater than N returns all matches") {
    val (_, coll) = mkColl("edge_bigk")
    val res = coll.cosineQuery("alpha beta", embedder, 100)
    assert(res.count() <= 2)
  }

  test("k = 0 returns all matches (reference embeddings.rs:327,373)") {
    val (_, coll) = mkColl("edge_k0")
    assert(coll.cosineQuery("alpha beta", embedder, 0).count() ==
      coll.cosineQuery("alpha beta", embedder, 100).count())
  }

  test("delete of a missing view raises ViewNotFound (reference panics)") {
    val wh = Files.createTempDirectory("graft_edge_del_").toString
    intercept[ViewNotFound](Collection.delete(spark, wh, "never_created"))
  }

  test("typed facade: Dataset[QueryHit] round-trips the untyped result") {
    implicit val s = spark
    val (_, coll) = mkColl("edge_typed")
    val qv = embedder.embedBatch(Seq("alpha beta gamma")).head
    val hits = coll.cosineQueryTyped(qv, 5).collect()
    assert(hits.nonEmpty)
    assert(hits.head.isInstanceOf[QueryHit])
    assert(hits.map(_.similarity).toSeq == hits.map(_.similarity).sortBy(-_).toSeq)
    val docs = coll.typedDf.collect()
    assert(docs.length == 2 && docs.forall(_.embedding.length == 16))
  }

  test("duplicate documents: metadata stays row-keyed (divergence from rposition)") {
    // reference resolves metadata by last-duplicate text match
    // (embeddings.rs:358); we key by row id — each dup keeps its own metadata
    val wh = Files.createTempDirectory("graft_edge_dup_").toString
    val docs = Seq(
      ("a", "same text", Seq("""{"tag": 1}""")),
      ("b", "same text", Seq("""{"tag": 2}""")))
      .toDF("id", "document", "metadata")
    val coll = Collection.create(spark, wh, "edge_dup", docs, embedder)
    val res = coll.cosineQuery("same text", embedder, 10)
      .select("id", "metadata").as[(String, Seq[String])].collect().toMap
    assert(res("a") == Seq("""{"tag": 1}"""))
    assert(res("b") == Seq("""{"tag": 2}"""))
  }
}
