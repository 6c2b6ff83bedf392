package graft.core

import java.io.{FileNotFoundException, InputStream}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** One collection's catalog entry — the Spark-native form of the
  * reference's `KeyViewIndexer` + `key-{view}` pointer scheme
  * (reference: src/embeddings.rs:127-142, 481-539; src/database.rs:13-15).
  */
final case class CollectionInfo(
    view: String,
    key: String,
    path: String,
    modelType: String,
    dim: Int,
    createdAt: Long,
    partitionCols: Seq[String] = Seq.empty)

/** The collections catalog: one JSON file, `{warehouse}/_catalog.json`,
  * holding the array of [[CollectionInfo]] entries (view → key, data path,
  * model config).
  *
  * The reference keeps three LMDB keys ("keys", "views", "key-{view}") that
  * it read-modify-writes on every mutation (embeddings.rs:481-539); here
  * that collapses into one small file read and written on the driver, with
  * no Spark job. A write lands in `_catalog.json.tmp` and is renamed over
  * the file with an atomic OVERWRITE rename, so a reader sees either the
  * old catalog or the new one, never a half-written one. At 100 TB the
  * catalog stays tiny (one entry per collection) — only collection *data*
  * scales. (Concurrent *writers* still need external coordination — same
  * single-writer model as the reference's lock, database.rs:28-31.)
  */
final class Catalog(spark: SparkSession, warehouse: String) {
  private val file = new Path(s"$warehouse/_catalog.json")
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = file.getFileSystem(conf)

  /** Every entry, by view; empty before the first collection is created. */
  def list(): Seq[CollectionInfo] =
    try {
      val in: InputStream = fs.open(file)
      try Catalog.mapper.readValue(in, classOf[Array[CollectionInfo]]).toSeq.sortBy(_.view)
      finally in.close()
    } catch { case _: FileNotFoundException => Seq.empty }

  /** All view names (reference: fetch_collection_keys(views=true),
    * embeddings.rs:312-324). */
  def views(): Seq[String] = list().map(_.view)

  /** All collection keys (reference: fetch_collection_keys(views=false)). */
  def keys(): Seq[String] = list().map(_.key)

  def find(view: String): Option[CollectionInfo] = list().find(_.view == view)

  def findByKey(key: String): Option[CollectionInfo] = list().find(_.key == key)

  def add(info: CollectionInfo): Unit = {
    val current = list()
    if (current.exists(_.view == info.view)) throw DuplicateView(info.view)
    write(current :+ info)
  }

  def remove(view: String): Unit = {
    val current = list()
    if (!current.exists(_.view == view)) throw ViewNotFound(view)
    write(current.filterNot(_.view == view))
  }

  /** Replace an existing entry (same view) — e.g. after compaction moves
    * the collection's data path. */
  def update(info: CollectionInfo): Unit = {
    val current = list()
    if (!current.exists(_.view == info.view)) throw ViewNotFound(info.view)
    write(current.filterNot(_.view == info.view) :+ info)
  }

  private def write(entries: Seq[CollectionInfo]): Unit = {
    val tmp = new Path(s"$file.tmp")
    val out = fs.create(tmp, true)
    try out.write(Catalog.mapper.writeValueAsBytes(entries)) finally out.close()
    // FileContext rename with OVERWRITE is atomic on posix-local and HDFS
    FileContext.getFileContext(tmp.toUri, conf).rename(tmp, file, Options.Rename.OVERWRITE)
  }
}

object Catalog {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
