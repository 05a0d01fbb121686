package graft.etl

import org.apache.hadoop.fs.{GlobFilter, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference guide's full path, end-to-end in one object — the flow a
  * user of `braindoorg/s3-glue-redshift-guide` runs today, re-expressed
  * Spark-native (reference trace: SURVEY.md §3.1, README.md:202 → :150):
  *
  *  1. a file lands in the watched store prefix        (S3 upload, :202)
  *  2. the event filter admits it                      (prefix/suffix, :196-198)
  *  3. incremental ingest processes ONLY new files     (Lambda→workflow + bookmarks, :182-188, :145)
  *  4. the crawler infers/merges the schema, registers the table (:104, :117)
  *  5. the "Change schema" mapping shapes the rows     (:149-151)
  *  6. the warehouse load writes via JDBC              (:150)
  *  7. the data is queryable with SQL                  (:79)
  *
  * Each `run()` is one trigger firing; calling it again after new files
  * land processes only the delta (bookmark semantics) but reloads the
  * warehouse table in full (the reference's job overwrites its target).
  *
  * The ingest schema is inferred from each firing's new files only, and is
  * always equal to `inferSchema=true` over the whole watch directory with
  * the same options and suffix glob. CSV inference folds per-row types with
  * a merge under which every type is its own merge, so when the new files
  * infer to the schema held so far, the whole directory infers to it too.
  * The instance keeps that schema and the files folded into it, by path,
  * size and mtime, and re-infers over the whole directory when:
  *  - it is the instance's first firing;
  *  - the new files infer to a different schema;
  *  - a folded file is gone or has changed size or mtime;
  *  - the directory holds a subdirectory Spark lists (partition discovery),
  *    or the watch path is not a plain directory;
  *  - a new file's path holds a glob metacharacter.
  * A firing with no new file runs no inference job. The fold lives as long
  * as the instance, like its checkpoint and staging dirs, and advances only
  * after an inference has returned.
  */
class ReferencePipeline(spark: SparkSession, watchDir: String,
    suffixFilter: String, tableName: String, warehouse: JdbcSink,
    mapping: DataFrame => DataFrame) {

  private val checkpoint = graft.core.Tables.scratchDir("graft_refpipe_ckpt")
  private val staging = graft.core.Tables.scratchDir("graft_refpipe_staging")
  private val crawler = new Crawler(spark)
  private val suffixGlob = new GlobFilter(suffixFilter)
  /** The characters that make Spark treat a read path as a glob. */
  private val GlobChars = "{}[]*?\\".toSet
  /** The schema inferred so far and the files folded into it. */
  private var folded: Option[(StructType, Map[String, (Long, Long)])] = None

  /** One end-to-end trigger firing. Returns the warehouse-loaded frame. */
  def run(): DataFrame = {
    // steps 1-3: event-filtered incremental ingest of new files only
    Incremental.runAvailableNow(spark, watchDir, inferSchema(), checkpoint,
      staging, globFilter = Some(suffixFilter))
    // step 4: crawl the staged (parquet) data, add-only schema evolution
    val crawled = crawler.crawl(staging, tableName, format = "parquet")
    // steps 5-6: change-schema mapping, then the JDBC warehouse load
    val shaped = mapping(crawled)
    warehouse.write(shaped)
    // step 7: the warehouse surface
    warehouse.read(spark)
  }

  /** The ingest schema of the watch directory as it is now: see the class
    * doc for the invariant and when it re-infers over every file. */
  private[etl] def inferSchema(): StructType = {
    val listed = listing()
    val kept = (folded, listed) match {
      case (Some((held, files)), Some(now))
          if files.forall { case (p, stat) => now.get(p).contains(stat) } =>
        val fresh = (now.keySet -- files.keySet).toSeq.sorted
        Some(held).filter(_ => fresh.isEmpty ||
          (!fresh.exists(_.exists(GlobChars)) && infer(fresh: _*) == held))
      case _ => None
    }
    val schema = kept.getOrElse(infer(watchDir))
    folded = listed.map(schema -> _)
    schema
  }

  /** The suffix filter applies to the schema pass too — a decoy file must
    * not contribute fields. */
  private def infer(paths: String*): StructType =
    spark.read.options(CsvSource.options)
      .option("multiLine", "true")
      .option("pathGlobFilter", suffixFilter)
      .option("inferSchema", "true")
      .csv(paths: _*).schema

  /** The files Spark's file index reads from the watch directory, as
    * path → (size, mtime); None when Spark would discover partitions in it
    * or glob-expand the watch path itself. */
  private[etl] def listing(): Option[Map[String, (Long, Long)]] = {
    val dir = new Path(watchDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (watchDir.exists(GlobChars) ||
        !scala.util.Try(fs.getFileStatus(dir).isDirectory).getOrElse(false)) return None
    val visible = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
    if (visible.exists(_.isDirectory)) None
    else Some(visible.filter(s => suffixGlob.accept(s.getPath))
      .map(s => s.getPath.toString -> (s.getLen -> s.getModificationTime)).toMap)
  }

  /** Spark's file-index rule for names it never lists
    * (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
}
