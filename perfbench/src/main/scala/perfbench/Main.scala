package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

import graft.{Pipeline, Scratch, SparkEntry}

/** The benchmark's JVM: one process, one closed-loop client. It sets a
  * session up (timed from JVM start through its first op), runs untimed
  * warm-up passes, then a fixed number of whole rounds of the workload's
  * ops, with Bench's clean room before every op. Every op is timed from
  * outside the program through its public entry points, and its output
  * is kept for checking.
  *
  * It writes `record.json` (metrics, provenance, per-op records),
  * `results/` (the first output of each op, for the checker) and, on a
  * traced run, `spans.jsonl`. run.py launches it; see README.md. */
object Main {

  final case class Args(workload: String, seed: Long, rounds: Int,
      trace: Boolean, data: String, drops: Seq[(String, Long)],
      ops: Seq[String], setupOp: String, out: String,
      threads: Int, commit: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val drops = m.get("drops").filter(_.nonEmpty).toSeq
      .flatMap(_.split(",")).map { d =>
        val i = d.lastIndexOf(':'); (d.take(i), d.drop(i + 1).toLong) }
    Args(req("workload"), req("seed").toLong, req("rounds").toInt,
      req("trace") == "1", req("data"), drops, req("ops").split(",").toSeq,
      req("setup-op"), req("out"),
      req("threads").toInt, m.getOrElse("commit", "unknown"))
  }

  /** Writes the record and spans (Scala maps keep insertion order). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Untimed passes over the ops before the measured rounds. */
  val WarmupPasses = 1

  /** Bench's session conf, verbatim, with `local[k]` and k shuffle
    * partitions. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's clean room between timed runs: stop leaked streams, clear
    * the cache, shut embedded Derby down and re-register its driver,
    * sweep the scratch zone, GC, and drain checkpoint blocks. */
  def cleanRoom(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q =>
      try q.stop() catch { case NonFatal(_) => () }
    }
    spark.catalog.clearCache()
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    try java.sql.DriverManager.getDriver("jdbc:derby:probe")
    catch { case _: java.sql.SQLException =>
      try java.sql.DriverManager.registerDriver(
        Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
          .getDeclaredConstructor().newInstance()
          .asInstanceOf[java.sql.Driver])
      catch { case NonFatal(_) => () }
    }
    Scratch.deleteRecursively(Paths.get(Scratch.dir("")))
    System.gc()
    var drainTries = 0
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && drainTries < 30) {
      System.gc(); Thread.sleep(100); drainTries += 1
    }
  }

  sealed trait Op { def name: String }
  final case class CatalogOp(name: String) extends Op
  /** One run of the staged pipeline over drop `drop` (`pipeline:<i>`). */
  final case class PipelineOp(drop: Int) extends Op {
    def name = s"pipeline:$drop"
  }
  def op(name: String): Op =
    if (name.startsWith("pipeline:")) PipelineOp(name.stripPrefix("pipeline:").toInt)
    else CatalogOp(name)

  /** What one op did. `calls` holds the seconds of each timed call. */
  final class OpRecord(val index: Int, val name: String, val round: Int,
      val traced: Boolean) {
    var latencyS, cpuS = 0.0
    var startNs, endNs, startWallMs = 0L
    var storedBytes, heapUsedBytes, inputRows = 0L
    var ok = true
    var error = ""
    val calls = mutable.LinkedHashMap.empty[String, Double]
    val callSpans = mutable.ArrayBuffer.empty[Span]
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memBean = ManagementFactory.getMemoryMXBean

  /** Bytes of the files under `roots` written at or after `sinceMs`. */
  def bytesWrittenSince(roots: Seq[Path], sinceMs: Long): Long =
    roots.filter(Files.exists(_)).map { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        try {
          if (Files.getLastModifiedTime(p).toMillis >= sinceMs) Files.size(p)
          else 0L
        } catch { case NonFatal(_) => 0L } // swept while walking
      }.sum
      finally s.close()
    }.sum

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val out = Paths.get(a.out)
    val results = out.resolve("results")
    Files.createDirectories(results)
    val loadStart = cpuBean.getSystemLoadAverage
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cwd = Paths.get(sys.props("user.dir"))
    val rowsOnly = SparkEntry.rowsOnly
    val queries = SparkEntry.queries

    // ---- op execution ----
    val firstHash = mutable.Map.empty[String, Int]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rootSpan = 1L
    def spanId(): Long = SpanIds.next()

    def run(spark: SparkSession, o: Op, rec: OpRecord, opSpan: Long): Unit = {
      val sc = spark.sparkContext
      def call[T](kind: String)(body: => T): T = {
        val id = spanId()
        sc.setLocalProperty(Tracer.SpanKey, id.toString)
        val s0 = Clock.nowNs()
        try body
        finally {
          val s1 = Clock.nowNs()
          rec.calls(kind) = rec.calls.getOrElse(kind, 0.0) + (s1 - s0) / 1e9
          rec.callSpans += Span(id, opSpan, kind, s"$kind ${rec.name}", s0, s1)
          sc.setLocalProperty(Tracer.SpanKey, null)
        }
      }
      o match {
        case CatalogOp(name) =>
          val fn = queries.getOrElse(name, sys.error(s"unknown query $name"))
          var rows: Array[Row] = null
          var df: org.apache.spark.sql.DataFrame = null
          timed(spark, rec) {
            df = call("registry")(fn(spark, a.data))
            rows = call("operators")(df.collect())
          }
          if (rec.ok) checkRows(spark, name, df.schema, rows, rec)
        case PipelineOp(d) =>
          val (dropPath, dropRows) = a.drops(d)
          val base = Scratch.dir("perfbench_pipeline")
          val (input, staging, clean, zoneOut) =
            (s"$base/input", s"$base/staging", s"$base/clean", s"$base/out")
          // untimed: land a new dated drop in the input zone
          Files.createDirectories(Paths.get(input))
          val dated = java.time.LocalDate.of(2024, 1, 1).plusDays(rec.index)
          Files.copy(Paths.get(dropPath), Paths.get(input, s"titles_$dated.csv"),
            StandardCopyOption.REPLACE_EXISTING)
          rec.inputRows = dropRows
          timed(spark, rec) {
            val staged = call("pipeline.extract")(
              Pipeline.extract(input, staging)
                .getOrElse(sys.error(s"no drop under $input")))
            call("pipeline.transform")(Pipeline.transform(spark, staged, clean))
            call("pipeline.load")(Pipeline.load(spark, clean, zoneOut))
          }
          if (rec.ok) checkCsv(o.name, Paths.get(zoneOut), rec)
      }
    }

    def timed(spark: SparkSession, rec: OpRecord)(body: => Unit): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.OpKey, rec.index.toString)
      val cpu0 = cpuBean.getProcessCpuTime
      rec.startWallMs = System.currentTimeMillis()
      rec.startNs = Clock.nowNs()
      try body
      catch { case NonFatal(e) =>
        rec.ok = false
        rec.error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        System.err.println(s"[perfbench] ${rec.name} failed: ${rec.error}")
      } finally {
        rec.endNs = Clock.nowNs()
        rec.cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
        rec.latencyS = (rec.endNs - rec.startNs) / 1e9
        sc.setLocalProperty(Tracer.OpKey, null)
      }
    }

    /** Every repeat of an op must reproduce its first output exactly;
      * the first output goes to results/ for the checker. */
    def sameAsFirst(name: String, hash: Int, rec: OpRecord): Boolean =
      firstHash.get(name) match {
        case Some(h) =>
          if (h != hash) { rec.ok = false; rec.error = "output differs from its first run" }
          false
        case None => firstHash(name) = hash; true
      }

    def checkRows(spark: SparkSession, name: String,
        schema: org.apache.spark.sql.types.StructType, rows: Array[Row],
        rec: OpRecord): Unit = {
      val hash = scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq)
      if (sameAsFirst(name, hash, rec)) {
        if (rowsOnly(name)) {
          checks += Map("op" -> name, "kind" -> "rows", "rows" -> rows.length)
          if (rows.isEmpty) { rec.ok = false; rec.error = "rows-only check: no rows" }
        } else {
          val dir = results.resolve(name).toString
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(dir)
          checks += Map("op" -> name, "kind" -> "oracle", "path" -> dir,
            "rows" -> rows.length)
        }
      }
    }

    def checkCsv(name: String, zone: Path, rec: OpRecord): Unit = {
      val part = graft.sources.Ingest.latestFile(zone.toString, "part-*.csv")
        .getOrElse(sys.error(s"no CSV under $zone"))
      val lines = Files.readAllLines(part).asScala.toSeq
      val hash = scala.util.hashing.MurmurHash3.seqHash(lines.sorted)
      if (sameAsFirst(name, hash, rec)) {
        val dst = results.resolve(name.replace(':', '_') + ".csv")
        Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
        checks += Map("op" -> name, "kind" -> "pipeline", "path" -> dst.toString,
          "rows" -> (lines.size - 1), "drop" -> a.drops(name.stripPrefix("pipeline:").toInt)._1)
      }
    }

    val storeRoots = Seq(Paths.get(Scratch.dir("")), cwd.resolve("spark-warehouse"),
      cwd.resolve("metastore_db"))
    val records = mutable.ArrayBuffer.empty[OpRecord]
    def runOne(spark: SparkSession, o: Op, round: Int, traced: Boolean,
        clean: Boolean): OpRecord = {
      if (clean) cleanRoom(spark)
      val rec = new OpRecord(records.size, o.name, round, traced)
      rec.heapUsedBytes = memBean.getHeapMemoryUsage.getUsed
      val opSpan = spanId()
      run(spark, o, rec, opSpan)
      rec.callSpans += Span(opSpan, rootSpan, "op", rec.name, rec.startNs, rec.endNs)
      rec.storedBytes = bytesWrittenSince(storeRoots, rec.startWallMs)
      records += rec
      rec
    }

    // ---- set-up: JVM start → session → first op done ----
    val spark = session(a)
    val setupRec = runOne(spark, op(a.setupOp), round = -1, traced = false, clean = false)
    if (!setupRec.ok) sys.error(s"set-up op ${a.setupOp} failed: ${setupRec.error}")
    // the op's own end: its output check and stored-bytes walk are the
    // harness's, not the system's
    val setupS = (setupRec.endNs / 1e6 - jvmStartMs) / 1e3
    // untimed warm-up passes over the ops, so first-run costs (class
    // loading, JIT, codegen) fall outside the measured rounds; the
    // set-up op has already run
    val ops = a.ops.map(op)
    for (pass <- 0 until WarmupPasses; o <- ops if pass > 0 || o.name != a.setupOp)
      runOne(spark, o, round = -1, traced = false, clean = true)
    val setupRecords = records.size

    // ---- measured rounds ----
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    // a fixed number of whole rounds, so every run measures the same ops
    // however fast the machine is; a traced run needs a pair of rounds
    val rounds = if (a.trace) math.max(2, a.rounds) else a.rounds
    val started = System.nanoTime()
    // ops keep their listed order in every round: an op's place in the
    // JVM's warm-up curve is then the same in every run
    for (round <- 0 until rounds) {
      for (o <- ops) {
        // a traced run traces each op in every other round, alternating
        // between ops, so traced and untraced runs of the same ops give
        // the tracing overhead
        val traced = a.trace && (round + ops.indexOf(o)) % 2 == 0
        if (traced) tracer.foreach(_.attach())
        runOne(spark, o, round, traced, clean = true)
        if (traced) tracer.foreach(_.detach())
      }
    }
    val measuredS = (System.nanoTime() - started) / 1e9
    val measured = records.drop(setupRecords).toSeq

    // ---- metrics ----
    val mb = 1024.0 * 1024.0
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val untraced = measured.filterNot(_.traced)
    val basis = if (a.trace) measured else untraced
    val okOps = basis.filter(_.ok)
    val lat = okOps.map(_.latencyS)
    val (tailV, tailPct) = if (lat.isEmpty) (0.0, 0.0) else Stats.tail(lat)
    val pipelineOps = measured.filter(r => r.ok && r.name.startsWith("pipeline:"))
    val endToEnd = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "ops_per_min" -> (if (lat.isEmpty) 0.0 else 60.0 * okOps.size / basis.map(_.latencyS).sum),
      "op_p50_s" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "op_tail_s" -> tailV,
      "cpu_s_per_op" -> mean(basis.map(_.cpuS)),
      "heap_retained_mb" -> (if (basis.isEmpty) 0.0 else basis.map(_.heapUsedBytes).max / mb),
      "stored_mb" -> mean(basis.map(_.storedBytes / mb)))
    val etlRowsPerS =
      if (pipelineOps.isEmpty) 0.0
      else pipelineOps.map(_.inputRows).sum / pipelineOps.map(_.latencyS).sum

    val perLayer = mutable.LinkedHashMap.empty[String, Any]
    var sparkSpans = Seq.empty[Span]
    var opTraces = Map.empty[Int, Tracer.OpTrace]
    tracer.foreach { t =>
      t.awaitJobEnds()
      sparkSpans = t.sparkSpans()
      val tr = measured.filter(_.traced)
      val traces = tr.map(r => r -> t.opTrace(r.index.toString, r.startNs, r.endNs))
      opTraces = traces.map { case (r, ot) => r.index -> ot }.toMap
      def meanOver(ts: Seq[(OpRecord, Tracer.OpTrace)])(
          f: (OpRecord, Tracer.OpTrace) => Double): Double = mean(ts.map(f.tupled))
      val perOp = meanOver(traces) _
      val (pipelineT, catalogT) = traces.partition(_._1.name.startsWith("pipeline:"))
      def jobsUnder(r: OpRecord, ot: Tracer.OpTrace, kind: String): Seq[(Long, Long)] = {
        val ids = r.callSpans.filter(_.kind.startsWith(kind)).map(_.id).toSet
        ot.jobs.collect { case (p, s, e) if ids(p) => (s, e) }
      }
      // a call's self time: its span minus the part its own jobs cover
      def selfTime(r: OpRecord, ot: Tracer.OpTrace, kind: String): Double =
        r.callSpans.filter(_.kind.startsWith(kind)).map { s =>
          val inside = Stats.clip(jobsUnder(r, ot, kind), s.startNs, s.endNs)
          (s.endNs - s.startNs - Stats.unionLength(inside)) / 1e9
        }.sum
      def callS(kind: String)(r: OpRecord, ot: Tracer.OpTrace): Double =
        r.calls.getOrElse(kind, 0.0)
      val jobsInOp = traces.map { case (r, ot) =>
        Stats.clip(ot.jobs.map(j => (j._2, j._3)), r.startNs, r.endNs) }
      val busy = jobsInOp.map(js => Stats.unionLength(js) / 1e9)
      val jobSum = jobsInOp.map(js => js.map { case (s, e) => e - s }.sum / 1e9)
      val outputMb = perOp((_, ot) => ot.c.output / mb)
      val storedMb = mean(tr.map(_.storedBytes / mb))
      // overhead: traced against untraced runs of the same ops, over
      // round pairs (each op is traced in exactly one round of a pair)
      val paired = measured.filter(_.round < rounds / 2 * 2)
      val trLat = paired.filter(_.traced).map(_.latencyS).sum
      val unLat = paired.filterNot(_.traced).map(_.latencyS).sum
      perLayer ++= Seq(
        "registry.build_s" -> meanOver(catalogT)(callS("registry")),
        "registry.build_jobs" -> meanOver(catalogT)(jobsUnder(_, _, "registry").size),
        "registry.self_s" -> meanOver(catalogT)(selfTime(_, _, "registry")),
        "operators.execute_s" -> meanOver(catalogT)(callS("operators")),
        "operators.execute_jobs" -> meanOver(catalogT)(jobsUnder(_, _, "operators").size),
        "operators.self_s" -> meanOver(catalogT)(selfTime(_, _, "operators")),
        "pipeline.extract_s" -> meanOver(pipelineT)(callS("pipeline.extract")),
        "pipeline.transform_s" -> meanOver(pipelineT)(callS("pipeline.transform")),
        "pipeline.load_s" -> meanOver(pipelineT)(callS("pipeline.load")),
        "pipeline.self_s" -> meanOver(pipelineT)(selfTime(_, _, "pipeline")),
        "sources.read_mb" -> perOp((_, ot) => ot.c.inputBytes / mb),
        "sources.read_rows" -> perOp((_, ot) => ot.c.inputRows.toDouble),
        "spark.jobs" -> perOp((_, ot) => ot.jobs.size.toDouble),
        "spark.stages" -> perOp((_, ot) => ot.stages.toDouble),
        "spark.stages_skipped" -> perOp((_, ot) => ot.skipped.toDouble),
        "spark.tasks" -> perOp((_, ot) => ot.c.tasks.toDouble),
        "spark.task_retries" -> perOp((_, ot) => ot.c.retries.toDouble),
        "spark.job_busy_s" -> mean(busy),
        "spark.driver_gap_s" -> mean(traces.zip(busy).map { case ((r, _), b) => r.latencyS - b }),
        "spark.job_concurrency" -> (if (busy.sum > 0) jobSum.sum / busy.sum else 0.0),
        "spark.task_cpu_s" -> perOp((_, ot) => ot.c.cpuNs / 1e9),
        "spark.task_gc_s" -> perOp((_, ot) => ot.c.gcMs / 1e3),
        "spark.task_wait_s" -> perOp((_, ot) => ot.c.waitMs / 1e3),
        "spark.shuffle_write_mb" -> perOp((_, ot) => ot.c.shuffleWrite / mb),
        "spark.shuffle_read_mb" -> perOp((_, ot) => ot.c.shuffleRead / mb),
        "spark.spill_mb" -> perOp((_, ot) => ot.c.spill / mb),
        "spark.output_mb" -> outputMb,
        "streaming.triggers" -> perOp((_, ot) => ot.triggers.toDouble),
        "streaming.planning_s" -> perOp((_, ot) => ot.planningMs / 1e3),
        "streaming.add_batch_s" -> perOp((_, ot) => ot.addBatchMs / 1e3),
        "streaming.wal_commit_s" -> perOp((_, ot) => ot.walCommitMs / 1e3),
        "streaming.commit_offsets_s" -> perOp((_, ot) => ot.commitOffsetsMs / 1e3),
        "catalog.ddl_events" -> perOp((_, ot) => ot.ddlEvents.toDouble),
        "storage.write_amp" -> (if (storedMb > 0) outputMb / storedMb else 0.0),
        "trace.overhead_pct" -> (if (unLat > 0) 100.0 * (trLat / unLat - 1) else 0.0),
        "etl_rows_per_s" -> etlRowsPerS)
    }

    // ---- the record ----
    val rt = Runtime.getRuntime
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql") || k == "spark.master" }
    val provenance = mutable.LinkedHashMap[String, Any](
      "seed" -> a.seed, "commit" -> a.commit,
      "nproc" -> rt.availableProcessors, "local_threads" -> a.threads,
      "load_avg_start" -> loadStart, "load_avg_end" -> cpuBean.getSystemLoadAverage,
      "max_heap_mb" -> rt.maxMemory / (1024 * 1024),
      "java" -> sys.props("java.version"), "spark" -> spark.version,
      "ops" -> a.ops, "setup_op" -> a.setupOp)
    val opJson = records.toSeq.map { r =>
      mutable.LinkedHashMap[String, Any]("i" -> r.index, "op" -> r.name,
        "round" -> r.round, "traced" -> r.traced, "latency_s" -> r.latencyS,
        "cpu_s" -> r.cpuS, "stored_bytes" -> r.storedBytes,
        "heap_used_mb" -> r.heapUsedBytes / mb, "calls" -> r.calls,
        "ok" -> r.ok, "error" -> r.error) ++
      opTraces.get(r.index).map(ot => Map("spark_jobs" -> ot.jobs.size,
        "stream_jobs" -> ot.streamJobs, "triggers" -> ot.triggers))
        .getOrElse(Map.empty)
    }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "trace" -> a.trace,
      "provenance" -> provenance, "conf" -> conf.toMap,
      "rounds" -> rounds, "measured_s" -> measuredS,
      "attempted" -> basis.size, "failed" -> basis.count(!_.ok),
      "op_tail" -> Map("percentile" -> tailPct, "samples" -> lat.size),
      "end_to_end" -> endToEnd, "etl_rows_per_s" -> etlRowsPerS,
      "per_layer" -> perLayer, "checks" -> checks, "op_records" -> opJson)
    Files.writeString(out.resolve("record.json"), json.writeValueAsString(record) + "\n")

    if (a.trace) {
      val root = Span(rootSpan, 0L, "workload", a.workload,
        records.headOption.map(_.startNs).getOrElse(0L),
        records.lastOption.map(_.endNs).getOrElse(0L))
      val all = Seq(root) ++ records.flatMap(_.callSpans) ++ sparkSpans
      Files.writeString(out.resolve("spans.jsonl"), all.map { s =>
        json.writeValueAsString(mutable.LinkedHashMap("id" -> s.id,
          "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
