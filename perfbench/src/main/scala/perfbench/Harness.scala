package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.SparkEntry
import graft.functions.AnnSearch
import graft.operators.FlightPipeline
import graft.sources.{Sources, VersionedTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation of a run. */
final case class Op(id: Long, name: String, kind: String,
                    startMs: Double, endMs: Double, gcMs: Long, cpuS: Double,
                    jitS: Double,
                    error: Option[String], info: Map[String, Any]) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** The benchmark's JVM side: builds the session the way `graft.Bench`
  * does, runs one round of a workload as a closed loop with a single
  * client (one operation after another), and writes what each operation
  * returned for the checks that `run.py` makes apart from the program.
  *
  * Arguments: workload seed trace(0|1) inputsDir outDir sfDir cpus
  */
object Harness {
  /** query_mix's registry rows: a TPC-H scan-filter-aggregate and a
    * three-way join with a top-k, then stream rows over a state store and
    * the graftvt stream source. */
  val TpchRows: Seq[String] = Seq("tpch_q3_shipping", "tpch_q6_forecast")
  val StreamRows: Seq[String] = Seq("stream_stateful_count",
    "stream_vt_source_latest")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, trace, inputs, out, sfDir, cpus) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    new File(out).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .withExtensions(new graft.plans.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    val tracer = if (trace == "1") Some(new Tracer) else None
    val h = new Harness(spark, workload, inputs, out, sfDir, tracer)
    // the warm-up graft.Bench runs before its timed loop
    val warmup = h.secondsOf(h.warmUp())
    val prepare = h.secondsOf(h.prepare())
    val setupCpuS = h.processCpuS
    LiveHeap.install()
    // listeners see only the measured part of the run
    tracer.foreach(_.install(spark))
    h.runRound()
    val rssMb = peakRssMb()
    val liveMb = LiveHeap.peakMb
    spark.stop() // drains the listener bus: every event is in the tracer now
    val report = Map(
      "workload" -> workload, "seed" -> seed.toLong,
      "setup" -> Map("session_s" -> sessionMs / 1000.0,
        "warmup_s" -> warmup, "prepare_s" -> prepare, "cpu_s" -> setupCpuS),
      "peak_rss_mb" -> rssMb, "peak_live_heap_mb" -> liveMb,
      "ops" -> h.ops.map(o => Map("id" -> o.id,
        "name" -> o.name, "kind" -> o.kind, "seconds" -> o.seconds,
        "cpu_s" -> o.cpuS, "jit_s" -> o.jitS,
        "error" -> o.error, "info" -> o.info)),
      "per_layer" -> tracer.map(h.perLayer))
    json.writeValue(new File(s"$out/report.json"), report)
    tracer.foreach { t =>
      val w = new PrintWriter(s"$out/spans.jsonl")
      try h.spans(t).foreach(s => w.println(json.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))))
      finally w.close()
    }
  }

  /** Reads and writes the harness's JSON files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Largest heap occupancy left after a collection during the measured
    * part of the run: the live set, in MB. */
  object LiveHeap {
    @volatile var peakMb = 0.0
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
                .map(_.getUsed).sum / 1048576.0
              synchronized { peakMb = math.max(peakMb, used) }
            }
          }, null, null)
        case _ =>
      }
  }

  /** CPU seconds the JIT compiler threads have used so far (from
    * /proc/self/task; the threads live as long as the JVM). */
  def jitCpuS(): Double = {
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val comm = Files.readString(Paths.get(s"$t/comm")).trim
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = Files.readString(Paths.get(s"$t/stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong    // utime + stime, in clock ticks
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

final class Harness(spark: SparkSession, workload: String, inputs: String,
                    out: String, sfDir: String, tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private val runSpanId = 1L
  private var nextId = 2L
  private val calls = mutable.ArrayBuffer.empty[Span]
  private val runStartMs = Clock.nowMs
  /** Harness-side work (result capture for the checks) runs in its own
    * session and job group, so no listener counts it as program work. */
  private val checkSession = spark.newSession()
  private val sc = spark.sparkContext
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def newId(): Long = { nextId += 1; nextId - 1 }

  /** A timed call into one of the program's public functions, recorded
    * as a span under the running operation. */
  private def call[T](name: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) =>
      val start = Clock.nowMs
      try f finally calls += Span(newId(), t.currentOp, name, start, Clock.nowMs)
  }

  /** Runs one operation: timed, under its own job group, with its error
    * (exception class and first line of the message) kept. Returns what
    * the body returned, or None when it threw. */
  private def op[T](name: String, kind: String,
                    info: Map[String, Any] = Map.empty)(body: => T): Option[T] = {
    val id = newId()
    tracer.foreach(_.currentOp = id)
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val gc0 = gcMs
    val jit0 = Harness.jitCpuS()
    val cpu0 = osBean.getProcessCpuTime
    val start = Clock.nowMs
    val res = try Right(body) catch {
      case e: Throwable => Left(e)
    }
    val end = Clock.nowMs
    val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
    val jit = Harness.jitCpuS() - jit0
    val gc = gcMs - gc0
    sc.clearJobGroup()
    tracer.foreach(_.currentOp = -1L)
    val err = res.left.toOption.map { e =>
      val msg = Option(e.getMessage).getOrElse("").linesIterator
        .find(_.trim.nonEmpty).getOrElse("")
      s"${e.getClass.getName}: $msg"
    }
    ops += Op(id, name, kind, start, end, gc, cpu, jit, err, info)
    res.toOption
  }

  /** Untimed harness-side work, outside every operation's job group. */
  private def untimed[T](f: => T): T = {
    sc.setJobGroup("perfbench-check", "result capture", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** What graft.Bench releases between queries: persisted fixpoint and
    * index artifacts, cached plans and stream result views. */
  private def releaseResidue(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.sharedState.cacheManager.clearCache()
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** graft.Bench's untimed session warm-up. */
  def warmUp(): Unit = untimed {
    spark.range(1000000L).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/region.parquet")
      .crossJoin(spark.read.parquet(s"$sfDir/nation.parquet")).collect()
    val warmSchema = spark.read.parquet(s"$sfDir/region.parquet").schema
    val wq = spark.readStream.schema(warmSchema)
      .option("pathGlobFilter", "region.parquet").parquet(sfDir)
      .groupBy("r_regionkey").count()
      .writeStream.format("memory").queryName("perfbench_warm")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    wq.awaitTermination()
    spark.catalog.dropTempView("perfbench_warm")
  }

  // --- workload definitions -------------------------------------------

  private var registryRows: Seq[String] = Nil
  private var windows: Seq[(String, String)] = Nil
  private var annQueries: IndexedSeq[Long] = IndexedSeq.empty
  private var annCorpusN = 0L

  def prepare(): Unit = workload match {
    case "flight_ingest" =>
      windows = readWindows(s"$inputs/flight_meta.json")
    case "query_mix" =>
      registryRows = Harness.TpchRows ++ Harness.StreamRows
      val oracle = SparkEntry.oracleSql
      Harness.json.writeValue(new File(s"$out/oracle_sql.json"),
        registryRows.map(n => n -> oracle.get(n)).toMap)
      annQueries = Harness.json.readTree(new File(s"$inputs/ann_meta.json"))
        .get("query_ids").elements.asScala.map(_.asLong).toIndexedSeq
      annCorpusN = untimed(checkSession.read
        .parquet(s"$inputs/embeddings.parquet").count())
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The reload windows from flight_meta.json: [[start, end), ...]. */
  private def readWindows(path: String): Seq[(String, String)] =
    Harness.json.readTree(new File(path)).get("windows").elements.asScala
      .map(w => (w.get(0).asText, w.get(1).asText)).toSeq

  def runRound(): Unit = workload match {
    case "flight_ingest" => flightRound()
    case "query_mix" => registryRound(); annRound()
  }

  // --- query_mix: registry rows, full result collected, then ANN ---

  private def registryRound(): Unit = {
    registryRows.foreach { name =>
      val kind = name.takeWhile(_ != '_')
      val fn = SparkEntry.queries(name)
      var schema: org.apache.spark.sql.types.StructType = null
      val rows = op(name, kind) {
        val df = call(s"SparkEntry.queries($name)")(fn(spark, sfDir))
        schema = df.schema
        call("Dataset.collect")(df.collect())
      }
      untimed {
        rows.foreach { rs =>
          checkSession.createDataFrame(rs.toSeq.asJava, schema)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$out/results/$name")
        }
        releaseResidue()
      }
    }
  }

  // --- flight_ingest -----------------------------------------------------

  private val readCols = Seq("carrier", "flightnumber", "departureAirport",
    "arrivalAirport", "flight_date", "dep_utc_us", "arr_utc_us", "totalSeats")

  private def writeTsv(path: String, rows: Array[Row]): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path)
    try rows.foreach(r => w.println(
      (0 until r.length).map(i => if (r.isNullAt(i)) "" else r.get(i).toString)
        .mkString("\t")))
    finally w.close()
  }

  /** The pipeline transform of one extract, without the sink. */
  private def flightsOf(csv: String): DataFrame = {
    val raw = Sources.readCsv(spark, csv, Sources.scheduleSchema)
    val (valid, _) = FlightPipeline.validate(raw)
    FlightPipeline.enrich(
      FlightPipeline.expandAndNormalize(FlightPipeline.passengerOnly(valid)),
      Sources.readCsv(spark, s"$inputs/airports.csv", Sources.airportsSchema))
  }

  private val keyCols = Seq("carrier", "flightnumber", "departureAirport",
    "dep_utc_us", "flight_date")

  /** One revision as a single MERGE INTO commit that replaces the reload
    * window [w0, w1): the revision's flights in the window are upserted,
    * and flights of the window the revision no longer carries are deleted. */
  private def applyRevision(table: String, r: Int, w0: String, w1: String): Unit = {
    val inWindow = col("flight_date") >= lit(w0).cast("date") &&
      col("flight_date") < lit(w1).cast("date")
    val rev = call("FlightPipeline transform")(
      flightsOf(s"$inputs/revision_$r.csv").filter(inWindow))
    val gone = spark.table(table).filter(inWindow)
      .join(rev.select(keyCols.map(col): _*), keyCols, "left_anti")
    rev.withColumn("flag", lit("u"))
      .unionByName(gone.withColumn("flag", lit("d")))
      .createOrReplaceTempView("perfbench_revision")
    val on = keyCols.map(c => s"t.$c = s.$c").mkString(" AND ")
    call("graftvt MERGE INTO")(spark.sql(
      s"""MERGE INTO $table t USING perfbench_revision s ON $on
         |WHEN MATCHED AND s.flag = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.flag = 'u' THEN INSERT *""".stripMargin))
  }

  private def flightRound(): Unit = {
    val sink = s"$out/work/flights"
    val table = "perfbench_flights"
    val imported = op("import", "import") {
      call("FlightPipeline.runImport")(FlightPipeline.runImport(spark,
        s"$inputs/schedule_base.csv", s"$inputs/airports.csv", sink))
    }
    untimed {
      imported.foreach { case (_, rejects) =>
        val n = checkSession.read.parquet(sink).count()
        val rj = checkSession.createDataFrame(
          rejects.select("__reject_reason", "distanceMiles").rdd,
          rejects.select("__reject_reason", "distanceMiles").schema).collect()
        writeTsv(s"$out/flight/rejects.tsv", rj)
        ops(ops.size - 1) = ops.last.copy(info = Map("flights" -> n,
          "sink" -> sink))
      }
    }
    op("convert", "convert") {
      call("graftvt CONVERT TO")(spark.sql(
        s"CONVERT TO graftvt '$sink' PARTITIONED BY (flight_date)"))
      spark.sql(s"CREATE TABLE $table USING graftvt " +
        s"OPTIONS (path '$sink', partitionCol 'flight_date')")
    }
    def readRange(w0: String, w1: String): (String, String) = {
      val a = java.time.LocalDate.parse(w0).minusDays(3).toString
      val b = java.time.LocalDate.parse(w1).plusDays(3).toString
      (a, b)
    }
    def read(name: String, state: Int, range: (String, String),
             asOf: Option[Int]): Unit = {
      val sql = s"SELECT ${readCols.mkString(", ")} FROM $table" +
        asOf.fold("")(v => s" VERSION AS OF $v") +
        s" WHERE flight_date >= DATE'${range._1}' AND flight_date < DATE'${range._2}'"
      val rows = op(name, "read", Map("state" -> state,
        "from" -> range._1, "to" -> range._2, "version" -> asOf.getOrElse(-1))) {
        call("Dataset.collect")(call("spark.sql(SELECT graftvt)")(spark.sql(sql))
          .collect())
      }
      untimed(rows.foreach(rs =>
        writeTsv(s"$out/flight/$name.tsv", rs)))
    }
    def upsert(name: String, r: Int): Unit = {
      val (w0, w1) = windows(r - 1)
      op(name, "upsert", Map("revision" -> r)) {
        applyRevision(table, r, w0, w1)
      }
      untimed(probeTable(sink))
    }
    windows.indices.foreach { i =>
      val r = i + 1
      val (w0, w1) = windows(i)
      val before = VersionedTable.latestVersion(checkSession, sink)
      upsert(s"upsert_$r", r)
      read(s"read_latest_$r", r, readRange(w0, w1), None)
      read(s"read_asof_$r", r - 1, readRange(w0, w1), Some(before))
    }
    // Re-applying the last revision must leave the content unchanged.
    val last = windows.size
    val vBefore = VersionedTable.latestVersion(checkSession, sink)
    upsert("reapply", last)
    // compared through the library reader: a fresh session cannot resolve
    // the catalog table once MERGE has reordered its columns
    val diff = untimed {
      val a = VersionedTable.read(checkSession, sink, vBefore)
      val b = VersionedTable.read(checkSession, sink,
        VersionedTable.latestVersion(checkSession, sink))
      val cols = a.columns.sorted.map(col)
      a.select(cols: _*).exceptAll(b.select(cols: _*)).count() +
        b.select(cols: _*).exceptAll(a.select(cols: _*)).count()
    }
    ops(ops.size - 1) = ops.last.copy(info = ops.last.info + ("diff_rows" -> diff))
    untimed(checkSession.sql(s"DROP TABLE IF EXISTS $table"))
  }

  // per-layer probes of graft.sources.VersionedTable, traced runs only
  private val vtLatest = mutable.ArrayBuffer.empty[Double]
  private val vtReplay = mutable.ArrayBuffer.empty[Double]
  private val vtWriteAmp = mutable.ArrayBuffer.empty[Double]
  private var vtLiveFiles = 0L
  private var vtLogBytes = 0L

  private def dirBytes(p: String): Long = {
    val f = new File(p)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** After a commit: time latestVersion and the log replay at the latest
    * version, and measure live files, log bytes and write amplification
    * (data bytes the commit added ÷ bytes of the rows it changed, at the
    * table's mean bytes per row). */
  private def probeTable(path: String): Unit = if (tracer.isDefined) {
    val t0 = System.nanoTime()
    val v = VersionedTable.latestVersion(checkSession, path)
    val t1 = System.nanoTime()
    val live = VersionedTable.liveFiles(checkSession, path, v)
    val t2 = System.nanoTime()
    vtLatest += (t1 - t0) / 1e9
    vtReplay += (t2 - t1) / 1e9
    vtLiveFiles = live.size
    vtLogBytes = dirBytes(s"$path/_log")
    val prev = VersionedTable.liveFiles(checkSession, path, v - 1).map(_._1).toSet
    def size(f: String): Long = {
      val p = if (f.startsWith("/")) f else s"$path/$f"
      val file = new File(p.stripPrefix("file:"))
      if (file.exists()) file.length() else 0L
    }
    val added = live.map(_._1).filterNot(prev).map(size).sum
    val liveBytes = live.map(f => size(f._1)).sum
    val rows = VersionedTable.snapshotRowCount(checkSession, path, v)
      .getOrElse(0L)
    val src = spark.table("perfbench_revision")
    val changed = checkSession.createDataFrame(src.rdd, src.schema).count()
    if (rows > 0 && changed > 0 && liveBytes > 0)
      vtWriteAmp += added / (changed * liveBytes.toDouble / rows)
  }

  // --- ann_serve ---------------------------------------------------------

  private def annRound(): Unit = {
    val e = spark.read.parquet(s"$inputs/embeddings.parquet")
    val n = annCorpusN
    val nC = AnnSearch.autoCentroids(n)
    val nG = AnnSearch.autoCoarse(nC)
    val nProbe = math.max(2, nC / 8)
    val gProbe = math.max(2, nG / 4)
    val trainN = AnnSearch.autoTrainN(n, nC)
    val k = 10
    def single(name: String, qids: Seq[Long]): Unit = {
      val q = e.filter(col("vec_id").isin(qids: _*)).select(col("embedding").as("qv"))
      val rows = op(name, "ann_query", Map("qids" -> qids)) {
        call("AnnSearch.ivfTopK")(AnnSearch.ivfTopK(e, q, k, nCentroids = nC,
          nProbe = nProbe, nCoarse = nG, trainN = trainN, gProbe = gProbe,
          excludeId = qids.headOption.getOrElse(-1L)).collect())
      }
      untimed {
        rows.foreach(rs => ops(ops.size - 1) = ops.last.copy(info =
          ops.last.info + ("rows" -> rs.map(r => Seq[Any](r.getLong(0), r.getDouble(1))))))
        releaseResidue()
      }
    }
    def batch(name: String, qids: Seq[Long]): Unit = {
      val q = e.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val rows = op(name, "ann_batch", Map("qids" -> qids)) {
        call("AnnSearch.ivfTopKBatch")(AnnSearch.ivfTopKBatch(e, q, k,
          nCentroids = nC, nProbe = nProbe, nCoarse = nG, trainN = trainN,
          gProbe = gProbe).collect())
      }
      untimed {
        rows.foreach(rs => ops(ops.size - 1) = ops.last.copy(info =
          ops.last.info + ("rows" -> rs.map(r =>
            Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))))
        releaseResidue()
      }
    }
    single("ann_query", annQueries.take(1))
    batch("ann_batch", annQueries.drop(1))
    single("ann_query_empty", Nil)
  }

  // --- per-layer metrics of a traced run --------------------------------

  def spans(t: Tracer): Seq[Span] = {
    val end = ops.lastOption.map(_.endMs).getOrElse(runStartMs)
    Span(runSpanId, 0L, workload, runStartMs, end) +:
      (ops.map(o => Span(o.id, runSpanId, o.name, o.startMs, o.endMs,
        Map("kind" -> o.kind) ++
          o.error.map(e => Map("error" -> e)).getOrElse(Map.empty))).toSeq ++
        calls.filter(_.parent >= 0).toSeq ++ t.jobSpans(1L << 40))
  }

  /** Every per-layer metric of the round (ann ones per query served); 0
    * where the workload does not reach the layer. */
  def perLayer(t: Tracer): Map[String, Double] = {
    def median(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val m = s.size / 2
        if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }
    val accs = ops.flatMap(o => Option(t.taskAcc.get(o.id)))
    val inJobs = ops.map(o => t.inJobsMs(o.id, o.startMs, o.endMs) / 1000.0).sum
    val wall = ops.map(_.seconds).sum
    val streams = t.streams.values.asScala.toSeq
    val started = streams.filter(!_.firstBatchMs.isNaN)
    val annOps = ops.filter(o => (o.kind == "ann_query" || o.kind == "ann_batch")
      && o.info.get("qids").exists(_.asInstanceOf[Seq[_]].nonEmpty))
    val served = annOps.map(_.info("qids").asInstanceOf[Seq[_]].size).sum.toDouble
    val annOutside = annOps.map(o =>
      o.seconds - t.inJobsMs(o.id, o.startMs, o.endMs) / 1000.0).sum
    val p = t.plan
    Map(
      "catalyst.analysis_s" -> p.analysisMs / 1000.0,
      "catalyst.optimization_s" -> p.optimizationMs / 1000.0,
      "catalyst.planning_s" -> p.planningMs / 1000.0,
      "catalyst.executions" -> p.executions.toDouble,
      "spark.jobs" -> ops.map(o => t.jobsOf(o.id)).sum.toDouble,
      "spark.stages" -> t.stagesDone.get.toDouble,
      "spark.tasks" -> accs.map(_.tasks).sum.toDouble,
      "spark.in_jobs_s" -> inJobs,
      "spark.outside_jobs_s" -> (wall - inJobs),
      "scan.bytes" -> accs.map(_.inBytes).sum.toDouble,
      "scan.rows" -> accs.map(_.inRows).sum.toDouble,
      "scan.files" -> p.scanFiles.toDouble,
      "shuffle.write_bytes" -> accs.map(_.shuffleWrite).sum.toDouble,
      "shuffle.exchanges" -> p.exchanges.toDouble,
      "mem.spill_bytes" -> accs.map(_.spill).sum.toDouble,
      "mem.peak_execution_bytes" ->
        accs.map(_.peakExec).foldLeft(0L)(math.max).toDouble,
      "output.bytes" -> accs.map(_.outBytes).sum.toDouble,
      "output.files" -> p.outFiles.toDouble,
      "jvm.gc_s" -> ops.map(_.gcMs).sum / 1000.0,
      "jvm.jit_cpu_s" -> ops.map(_.jitS).sum,
      "plans.graft_nodes" -> p.graftNodes.toDouble,
      "vt.latest_version_s" -> median(vtLatest.toSeq),
      "vt.replay_s" -> median(vtReplay.toSeq),
      "vt.live_files" -> vtLiveFiles.toDouble,
      "vt.log_bytes" -> vtLogBytes.toDouble,
      "vt.write_amp" -> median(vtWriteAmp.toSeq),
      "stream.starts" -> streams.size.toDouble,
      "stream.batches" -> streams.map(_.batches).sum.toDouble,
      "stream.startup_s" -> median(started.map(s => (s.firstBatchMs - s.startMs) / 1000.0)),
      "stream.batch_s" -> {
        val b = streams.map(_.batches).sum
        if (b == 0) 0.0 else streams.map(_.batchMs).sum / 1000.0 / b },
      "stream.input_rows" -> streams.map(_.inputRows).sum.toDouble,
      "stream.state_rows" -> streams.map(_.stateRows).sum.toDouble,
      "ann.jobs_per_query" ->
        (if (served == 0) 0.0 else annOps.map(o => t.jobsOf(o.id)).sum / served),
      "ann.outside_jobs_per_query_s" ->
        (if (served == 0) 0.0 else annOutside / served))
  }
}
