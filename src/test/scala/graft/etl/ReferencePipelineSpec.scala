package graft.etl

import graft.SparkSpec
import graft.core.Tables
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The reference guide's full path (upload → event → incremental ingest →
  * crawl → change-schema → JDBC load → SQL), driven twice to prove the
  * bookmark/no-reprocess behavior survives the whole composition; plus the
  * ingest-schema invariant: whatever the firing's delta, the pipeline's
  * schema equals inference over the whole watch directory. */
class ReferencePipelineSpec extends SparkSpec {

  private def shape(df: DataFrame): DataFrame = df.select(
    col("c_custkey").as("customer_id"),
    upper(col("c_name")).as("customer_name"),
    col("c_acctbal").cast("double").as("balance"))

  private def pipeline(watch: String, mapping: DataFrame => DataFrame = shape) =
    new ReferencePipeline(spark, watch, "*.csv", s"refpipe_customers_${System.nanoTime}",
      JdbcSink(s"jdbc:derby:${tmpDir("refpipe_wh")}/db;create=true", "CUSTOMER_WH"), mapping)

  /** The full-directory read the pipeline's schema must always equal. */
  private def fullRead(watch: String): DataFrame =
    spark.read.options(CsvSource.options).option("multiLine", "true")
      .option("pathGlobFilter", "*.csv").option("inferSchema", "true").csv(watch)

  /** Lands the customers in (lo, hi] as three CSV part files. */
  private def land(watch: String, lo: Int, hi: Int): Unit =
    Tables.customer(spark, sf).filter(col("c_custkey") > lo && col("c_custkey") <= hi)
      .repartition(3).write.options(CsvSource.options).mode("append").csv(watch)

  private def write(watch: String, name: String, csv: String): Unit =
    Files.writeString(Paths.get(watch, name), csv)

  private def csvCount(watch: String): Int =
    new java.io.File(watch).list()
      .count(n => n.endsWith(".csv") && !n.startsWith(".") && !n.startsWith("_"))

  /** Runs `body` and returns its result with the input records each Spark
    * job it ran read, one entry per job. */
  private def jobRecords[T](body: => T): (T, Seq[Long]) = {
    val sc = spark.sparkContext
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val records = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        records.put(e.jobId, 0L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(jobOfStage.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach { j =>
          records.merge(j, e.taskMetrics.inputMetrics.recordsRead, (a: Long, b: Long) => a + b)
        }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, records.values.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The schema step's result once files landed, with the largest number of
    * files one of its jobs read (multiLine inference reads one record per
    * file; 0 when it ran no job). Asserts the full-directory invariant. */
  private def inferChecked(pipe: ReferencePipeline, watch: String): (StructType, Long) = {
    val (schema, recs) = jobRecords(pipe.inferSchema())
    assert(schema == fullRead(watch).schema)
    (schema, recs.maxOption.getOrElse(0L))
  }

  test("end-to-end pipeline: two trigger firings, delta-only processing") {
    val watch = tmpDir("refpipe_watch")
    val pipe = pipeline(watch)
    val customers = Tables.customer(spark, sf)
    val batch1Count = customers.filter(col("c_custkey") <= 75).count()
    // firing 1: first batch lands (+ a decoy the suffix filter must reject)
    land(watch, Int.MinValue, 75)
    write(watch, "decoy.txt", "c,not,csv\n")
    val loaded1 = pipe.run()
    assert(loaded1.count() == batch1Count)
    assert(inferChecked(pipe, watch)._2 == 0, "no new file, yet inference ran a job")

    // firing 2: only the new files flow; warehouse reloads in full
    land(watch, 75, Int.MaxValue)
    val loaded2 = pipe.run()
    assert(loaded2.count() == customers.count())
    assert(inferChecked(pipe, watch)._2 == 0, "no new file, yet inference ran a job")

    // step 7: the SQL surface over the warehouse
    loaded2.createOrReplaceTempView("warehouse_customers")
    val top = spark.sql(
      """SELECT customer_id, customer_name FROM warehouse_customers
        |ORDER BY balance DESC LIMIT 1""".stripMargin).head()
    assert(top.getAs[String]("customer_name").startsWith("CUSTOMER#"))
  }

  test("the listing is Spark's: suffix glob, no hidden files, none on subdirectories") {
    val watch = tmpDir("refpipe_list")
    val pipe = pipeline(watch)
    land(watch, Int.MinValue, 50) // part files plus _SUCCESS and .crc siblings
    write(watch, "decoy.txt", "c,not,csv\n")
    write(watch, "_hidden.csv", "c\n1\n")
    write(watch, ".hidden.csv", "c\n1\n")
    val spark_ = fullRead(watch).inputFiles.map(f => new Path(f).toUri.getPath).toSet
    val ours = pipe.listing().get.keySet.map(f => new Path(f).toUri.getPath)
    assert(ours == spark_ && ours.size == csvCount(watch))
    Files.createDirectory(Paths.get(watch, "p=1"))
    assert(pipe.listing().isEmpty)
  }

  test("an incremental trigger infers from exactly its new files") {
    val watch = tmpDir("refpipe_delta")
    val pipe = pipeline(watch)
    land(watch, Int.MinValue, 50)
    val first = csvCount(watch)
    assert(inferChecked(pipe, watch)._2 == first, "a first firing reads every file")
    // the second batch lands with a decoy: neither the listing nor the
    // inference may fold it in
    land(watch, 50, 100)
    write(watch, "decoy.txt", "c_custkey,extra\nx,y\n")
    val (_, read) = inferChecked(pipe, watch)
    assert(read == csvCount(watch) - first, "inference read more than the new files")
    assert(!pipe.listing().get.keys.exists(_.endsWith("decoy.txt")))
    assert(inferChecked(pipe, watch)._2 == 0)
  }

  test("a delta that changes a column's type falls back to the full directory") {
    val watch = tmpDir("refpipe_widen")
    val pipe = pipeline(watch)
    write(watch, "a.csv", "id,v\n1,10\n2,20\n")
    assert(inferChecked(pipe, watch)._1.map(_.dataType.typeName) == Seq("integer", "integer"))
    // an integer-only column turns fractional
    write(watch, "b.csv", "id,v\n3,1.5\n")
    val (widened, read) = inferChecked(pipe, watch)
    assert(widened("v").dataType.typeName == "double" && read == 2)
    // a delta whose column is all empty infers string alone; the directory
    // keeps double
    write(watch, "c.csv", "id,v\n4,\n")
    val (kept, read2) = inferChecked(pipe, watch)
    assert(kept == widened && read2 == 3)
  }

  test("a folded file deleted or rewritten falls back to the full directory") {
    val watch = tmpDir("refpipe_delete")
    val pipe = pipeline(watch)
    write(watch, "a.csv", "id,v\n1,10\n")
    write(watch, "b.csv", "id,v\n2,2.5\n")
    assert(inferChecked(pipe, watch)._1("v").dataType.typeName == "double")
    Files.delete(Paths.get(watch, "b.csv"))
    val (narrowed, read) = inferChecked(pipe, watch)
    assert(narrowed("v").dataType.typeName == "integer" && read == 1)
    write(watch, "a.csv", "id,v\n1,true\n")
    val (rewritten, read2) = inferChecked(pipe, watch)
    assert(rewritten("v").dataType.typeName == "boolean" && read2 == 1)
  }

  test("a crash between stages: the next firing loads every landed row") {
    val watch = tmpDir("refpipe_crash")
    var firings = 0
    val pipe = pipeline(watch, df => {
      firings += 1
      if (firings == 1) throw new IllegalStateException("injected mapping failure")
      shape(df)
    })
    land(watch, Int.MinValue, 75)
    intercept[IllegalStateException](pipe.run())
    // ingest committed its bookmark before the crash; no new file lands
    val afterCrash = pipe.run()
    assert(afterCrash.count() == Tables.customer(spark, sf).filter(col("c_custkey") <= 75).count())
    land(watch, 75, Int.MaxValue)
    val loaded = pipe.run()
    val oneShot = shape(fullRead(watch))
    assert(loaded.count() == oneShot.count())
    assert(loaded.exceptAll(oneShot).isEmpty && oneShot.exceptAll(loaded).isEmpty)
    assert(inferChecked(pipe, watch)._2 == 0)
  }
}
