package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.etl.{CsvSource, Crawler, Incremental, JdbcSink, ReferencePipeline}

/** One timed operation: a board key (query-function call plus noop write)
  * or a pipeline trigger (files landed to warehouse SQL answer). */
final case class Op(name: String, pass: Int, t0: Double, t1: Double,
    error: Option[String], attrs: Map[String, Double] = Map.empty) {
  def toJson: String = Json.obj("name" -> name, "pass" -> pass,
    "latency_s" -> (t1 - t0) / 1000.0, "error" -> error, "attrs" -> attrs)
}

/** An untimed output check; a failed one counts as a failed operation. */
final case class Check(name: String, error: Option[String]) {
  def toJson: String = Json.obj("name" -> name, "error" -> error)
}

/** The benchmark's JVM side. Runs one workload in one session and writes
  * raw results (operations, checks, spans) as one JSON object; run.py turns
  * them into metrics. Arguments are key=value pairs, see [[Args]]. */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
  }

  /** Exception class and first message line: the recorded failure cause. */
  def cause(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    s"${e.getClass.getName}: ${msg.take(300)}"
  }

  def attempt(body: => Unit): Option[String] =
    try { body; None } catch { case e: Throwable => Some(cause(e)) }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val work = a("work")
    val cpus = a.int("cpus")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a, Clock.now())
    a("workload") match {
      case "pipeline_incremental" => run.pipeline()
      case _                      => run.board(a("keys").split(",").toSeq.filter(_.nonEmpty))
    }
    Files.writeString(Paths.get(a("out")), run.toJson)
    spark.stop()
  }
}

/** State of one benchmark run: timed operations of the untraced window,
  * output checks, and, when tracing, the traced window's spans. */
final class Run(spark: SparkSession, a: Harness.Args, sessionReadyMs: Double) {
  import Harness._

  private val spawnMs = a("spawn_ms").toDouble
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val work = a("work")
  private val sfDir = a("sf_dir")
  private var firstTimedMs = Double.NaN
  private val ops = ArrayBuffer[Op]()
  private val checks = ArrayBuffer[Check]()
  private val oracleKeys = ArrayBuffer[String]()
  private var untracedWallS = 0.0
  private var passes = 0
  private var tracedWallS = 0.0
  private var jitMs = 0L
  private var heapPeak = 0L
  private var spans: Seq[Span] = Seq.empty
  private val roots = ArrayBuffer[Span]()

  /** Runs untraced passes until `seconds` of them have elapsed, and at
    * least `minPasses`, so the pass count does not flip between runs. A
    * traced run pairs each with a traced run of the same pass, in the order
    * untraced, traced, traced, untraced, ..., so JIT warm-up, which keeps
    * shortening later passes, falls on both sides alike and the tracing
    * overhead compares like with like; a traced run therefore runs an even
    * number of pairs. Listeners are registered only for the traced passes.
    * `pass(p, tracer)` runs one pass, returning its ops. */
  private def windows(minPasses: Int)(pass: (Int, Option[Tracer]) => Seq[Op]): Unit = {
    val tracer = if (traced) Some(new Tracer(spark)) else None
    JvmCounters.resetHeapPeak()
    var untracedMs, tracedMs = 0.0
    while (passes < minPasses || untracedMs < seconds * 1000 || (traced && passes % 2 == 1)) {
      val order = tracer.fold(Seq(false))(_ => if (passes % 2 == 0) Seq(false, true) else Seq(true, false))
      order.foreach { withTracer =>
        val t0 = Clock.now()
        if (withTracer) tracer.foreach { t =>
          t.install()
          val jit0 = JvmCounters.jitMs()
          try pass(passes, Some(t))
          finally { jitMs += JvmCounters.jitMs() - jit0; t.detach() }
          tracedMs += Clock.now() - t0
        } else {
          ops ++= pass(passes, None)
          untracedMs += Clock.now() - t0
        }
      }
      passes += 1
    }
    untracedWallS = untracedMs / 1000
    tracedWallS = tracedMs / 1000
    tracer.foreach { t =>
      heapPeak = JvmCounters.heapPeakBytes()
      spans = t.finish()
    }
  }

  /** A timed operation; with a tracer it is a root span carrying the codegen
    * and JIT deltas, and `body` gets the root's id for its child spans. */
  private def timed(name: String, pass: Int, tracer: Option[Tracer])(
      body: Long => Map[String, Double]): Op = {
    val id = tracer.map(_.nextId()).getOrElse(-1L)
    val cg0 = JvmCounters.codegenClasses()
    val jit0 = JvmCounters.jitMs()
    val t0 = Clock.now()
    if (firstTimedMs.isNaN) firstTimedMs = t0 // the untraced window runs first
    var attrs = Map.empty[String, Double]
    val err = attempt { attrs = body(id) }
    val t1 = Clock.now()
    tracer.foreach { _ =>
      roots += Span(id, -1, "root", name, t0, t1, attrs ++ Map(
        "codegen_classes" -> (JvmCounters.codegenClasses() - cg0).toDouble,
        "jit_ms" -> (JvmCounters.jitMs() - jit0).toDouble,
        "pass" -> pass.toDouble, "failed" -> (if (err.isDefined) 1.0 else 0.0)))
    }
    Op(name, pass, t0, t1, err, attrs)
  }

  private def traceSpan[T](tracer: Option[Tracer], layer: String, name: String,
      parent: Long)(body: => T): T = tracer match {
    case Some(t) => t.span(layer, name, parent)(_ => body)
    case None    => body
  }

  // ---------------------------------------------------------------- boards

  /** The timed action: every output column materialised, rows discarded. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed check pass over the board: an oracle-checkable key's output
    * is written for run.py's DuckDB compare, a unit-only key must return
    * without error. It is each key's cold first run. JIT keeps shortening
    * key latencies over the next passes; of the timed passes (at least
    * four) run.py takes each key's median, so the first, slowest ones do
    * not set it. */
  def board(keys: Seq[String]): Unit = {
    val vout = s"$work/vout"
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val oracle = SparkEntry.oracleSql
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      val err = attempt {
        if (oracle.contains(k))
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$vout/$k")
        else noop(fn(spark, sfDir))
      }
      if (oracle.contains(k) && err.isEmpty) oracleKeys += k
      else checks += Check(s"returns:$k", err)
    }
    Files.createDirectories(Paths.get(vout))
    Files.writeString(Paths.get(s"$vout/oracle_sql.json"),
      Json.value(oracleKeys.map(k => k -> oracle(k)).toMap))
    windows(minPasses = 4) { (p, tracer) =>
      keys.map { k =>
        timed(k, p, tracer) { root =>
          val df = traceSpan(tracer, "call.build", k, root)(SparkEntry.queries(k)(spark, sfDir))
          traceSpan(tracer, "call.action", k, root)(noop(df))
          Map.empty
        }
      }
    }
  }

  // -------------------------------------------------------------- pipeline

  private def mapping(df: DataFrame): DataFrame = df.select(
    col("o_orderkey").cast("long").as("order_id"),
    col("o_custkey").cast("long").as("customer_id"),
    upper(col("o_orderpriority")).as("priority"),
    col("o_orderstatus").as("status"),
    col("o_totalprice").cast("double").as("total_price"))

  /** Order-independent content hash of a frame: row count plus the sum of
    * per-row xxhash64 values, summed exactly as decimals. */
  private def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** The warehouse SQL answer; its row total must equal the rows landed. */
  private def answer(wh: DataFrame, expectRows: Long): Unit = {
    wh.createOrReplaceTempView("perfbench_orders_wh")
    val rows = spark.sql("""SELECT priority, count(*) AS n, sum(total_price) AS total
        |FROM perfbench_orders_wh GROUP BY priority""".stripMargin).collect()
    val n = rows.map(_.getLong(1)).sum
    if (n != expectRows)
      throw new IllegalStateException(s"warehouse holds $n rows, $expectRows landed")
  }

  private def csvFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq.sorted
    finally s.close()
  }

  /** The corpus run.py staged: the warm-up landing's CSV files and each
    * trigger's batch, with their row counts. */
  private def staged(): (Seq[Path], Long, Seq[(Seq[Path], Long)]) = {
    val root = Paths.get(a("staged"))
    val rows = a("staged_rows").split(",").map(_.toLong)
    (csvFiles(root.resolve("base")), rows.head,
      rows.tail.toSeq.zipWithIndex.map { case (n, i) => (csvFiles(root.resolve(s"delta$i")), n) })
  }

  private def land(files: Seq[Path], watch: Path, tag: String): Unit =
    files.zipWithIndex.foreach { case (f, j) =>
      Files.copy(f, watch.resolve(s"$tag-$j.csv"), StandardCopyOption.REPLACE_EXISTING)
    }

  /** One episode's firing function: ReferencePipeline.run when untraced;
    * traced, the same public functions in the order run() composes them,
    * each in its own span. Returns the warehouse frame. */
  private def firing(ep: String, watch: Path, sink: JdbcSink,
      tracer: Option[Tracer]): Long => DataFrame = tracer match {
    case None =>
      val pipe = new ReferencePipeline(spark, watch.toString, "*.csv",
        s"perfbench_orders_$ep", sink, mapping)
      _ => pipe.run()
    case Some(t) =>
      // the same scratch storage run() uses, so the traced stages differ
      // from the untraced ones only by their spans
      val crawler = new Crawler(spark)
      val ckpt = graft.core.Tables.scratchDir("graft_refpipe_ckpt")
      val staging = graft.core.Tables.scratchDir("graft_refpipe_staging")
      root => {
        val schema = t.span("etl.infer", ep, root)(_ =>
          spark.read.options(CsvSource.options).option("multiLine", "true")
            .option("pathGlobFilter", "*.csv").option("inferSchema", "true")
            .csv(watch.toString).schema)
        t.span("etl.ingest", ep, root)(_ => Incremental.runAvailableNow(
          spark, watch.toString, schema, ckpt, staging, globFilter = Some("*.csv")))
        val crawled = t.span("etl.crawl", ep, root)(_ =>
          crawler.crawl(staging, s"perfbench_orders_$ep", format = "parquet"))
        t.span("etl.load", ep, root)(_ => sink.write(mapping(crawled)))
        sink.read(spark)
      }
  }

  def pipeline(): Unit = {
    val (base, baseRows, deltas) = staged()
    var lastEpisode: Option[(Long => DataFrame, JdbcSink, Path, Long)] = None
    var episodes = 0
    windows(minPasses = 1) { (p, tracer) =>
      val ep = s"ep$episodes${if (tracer.isDefined) "t" else ""}"
      episodes += 1
      val watch = Files.createDirectories(Paths.get(s"$work/$ep/watch"))
      val sink = JdbcSink(s"jdbc:derby:$work/$ep/warehouse;create=true", "ORDERS_WH")
      val fire = firing(ep, watch, sink, tracer)
      // Warm-up triggers, not timed (in the first episode they are set-up):
      // the base landing, then the first delta.
      val (warmFiles, warmRows) = deltas.head
      land(base, watch, "base")
      answer(fire(-1L), baseRows)
      land(warmFiles, watch, "warm")
      answer(fire(-1L), baseRows + warmRows)
      var corpusRows = baseRows + warmRows
      val out = deltas.tail.zipWithIndex.map { case ((files, rows), i) =>
        land(files, watch, s"delta$i")
        corpusRows += rows
        val expect = corpusRows
        timed(s"trigger$i", p, tracer) { root =>
          val wh = fire(root)
          traceSpan(tracer, "etl.query", ep, root)(answer(wh, expect))
          Map("rows_new" -> rows.toDouble, "files_new" -> files.size.toDouble,
            "trigger" -> i.toDouble)
        }
      }
      if (tracer.isEmpty) lastEpisode = Some((fire, sink, watch, corpusRows))
      out
    }
    // Output checks on the last untraced episode's warehouse.
    lastEpisode.foreach { case (fire, sink, watch, rows) =>
      var loaded = ""
      checks += Check("warehouse_equals_one_shot_mapping", attempt {
        loaded = contentHash(sink.read(spark))
        val oneShot = contentHash(mapping(CsvSource.read(spark, watch.toString)))
        if (loaded != oneShot)
          throw new IllegalStateException(s"warehouse $loaded != one-shot $oneShot")
      })
      checks += Check("empty_trigger_leaves_warehouse_unchanged", attempt {
        val wh = fire(-1L)
        answer(wh, rows)
        val after = contentHash(wh)
        if (after != loaded)
          throw new IllegalStateException(s"warehouse $loaded became $after")
      })
    }
  }

  def toJson: String = {
    val spanJson = (roots ++ spans).map(_.toJson).mkString("[", ",", "]")
    "{" + Seq(
      Json.str("setup_s") + ":" + Json.value((firstTimedMs - spawnMs) / 1000),
      Json.str("session_s") + ":" + Json.value((sessionReadyMs - spawnMs) / 1000),
      Json.str("untraced_wall_s") + ":" + Json.value(untracedWallS),
      Json.str("passes") + ":" + passes,
      Json.str("ops") + ":" + ops.map(_.toJson).mkString("[", ",", "]"),
      Json.str("checks") + ":" + checks.map(_.toJson).mkString("[", ",", "]"),
      Json.str("oracle_keys") + ":" + Json.value(oracleKeys),
      Json.str("traced") + ":" + traced,
      Json.str("traced_wall_s") + ":" + Json.value(tracedWallS),
      Json.str("jit_ms") + ":" + jitMs,
      Json.str("heap_peak_bytes") + ":" + heapPeak,
      Json.str("spans") + ":" + spanJson
    ).mkString(",") + "}"
  }
}
