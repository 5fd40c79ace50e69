package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one Parquet reader: every input schema is inferred once
  * per session and input state, not once per read.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`) even for a single file,
  * and does so again on every call, although nothing about the input
  * changed. Hail takes a table's type from the table's own metadata on
  * the driver (`read_table`). This reader keeps Spark's own inference
  * rules (the first read of an input goes through
  * `spark.read.parquet(path).schema`) and remembers the result, so a
  * later read is `spark.read.schema(cached).parquet(path)`: the same
  * relation Spark would build, minus the job.
  *
  * '''Key.''' A schema is remembered under three parts:
  *  - the qualified path;
  *  - the name, length and modification time of every file under the
  *    path, listed recursively through the path's Hadoop `FileSystem`;
  *  - the session's SQL conf (`spark.conf.getAll`). Any conf that
  *    changes inference (`spark.sql.parquet.binaryAsString`,
  *    `int96AsTimestamp`, `inferTimestampNTZ.enabled`,
  *    `spark.sql.legacy.parquet.nanosAsLong`, `mergeSchema`) therefore
  *    forces a fresh inference.
  *
  * '''Staleness contract.''' An input whose files keep their names,
  * lengths and modification times is taken to have the same schema. A
  * rewrite that keeps all three (same file names, same lengths, within
  * the file system's mtime resolution) returns the earlier schema.
  * Parquet settings put on the SparkContext's Hadoop configuration are
  * not part of the key.
  *
  * '''Bound.''' The memo holds at most [[MaxEntries]] schemas and evicts
  * the least recently used first: the streaming runners read their sink
  * back from a fresh temp dir on every call, so an unbounded memo would
  * grow for the life of the session.
  *
  * A path that cannot be listed (missing, or a glob) is inferred on
  * every read, so Spark raises its own error for it. */
object ParquetInputs {
  /** Most schemas the memo holds. */
  private[graft] val MaxEntries = 256

  private final case class Key(path: String,
      files: Seq[(String, Long, Long)], conf: Map[String, String])

  private val memo =
    new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, StructType]): Boolean =
        size() > MaxEntries
    }

  /** Schemas currently remembered (at most [[MaxEntries]]). */
  private[graft] def memoSize: Int = memo.synchronized(memo.size())

  private def key(spark: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val files = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        files += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      Some(Key(fs.makeQualified(p).toString, files.result().sortBy(_._1),
        spark.conf.getAll))
    } catch { case _: java.io.IOException => None }
  }

  /** The schema `spark.read.parquet(path)` would infer, inferred by
    * Spark once per key (see the object doc). */
  def schema(spark: SparkSession, path: String): StructType =
    key(spark, path) match {
      case None => spark.read.parquet(path).schema
      case Some(k) =>
        memo.synchronized(Option(memo.get(k))).getOrElse {
          val s = spark.read.parquet(path).schema
          memo.synchronized(memo.put(k, s))
          s
        }
    }

  /** `spark.read.parquet(path)` without a repeated inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** Read files that share a known schema (for example part files of a
    * directory whose schema came from [[schema]]) without inferring
    * again. */
  def readAs(spark: SparkSession, schema: StructType,
      paths: String*): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)
}
