package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{GraftSession, SparkEntry, Tables}
import graft.ops.{SharedState, TimeSeries}
import graft.streaming.{EventStream, HampelSnapshot, HampelStream, SensorReading}

/** The benchmark's JVM side: drives graft through its public entry points
  * in a closed loop (one call at a time) and writes raw timings, counters
  * and spans as JSON for `run.py`, which checks results and computes the
  * metrics.
  *
  * Arguments (`--key value`): workload, kind (batch|stream), queries
  * (comma-separated, already in the seed's order), seed, seconds, trace
  * (0|1), data, out, cpus, and for the stream batches and span_min.
  *
  * With trace 1 the timed passes alternate untraced and traced, so one run
  * gives both the per-layer record and the tracing overhead.
  */
object Harness {
  private val clock0Ms = System.currentTimeMillis()
  private val clock0Ns = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  final case class Span(id: Int, parent: Int, name: String, start: Double,
                        end: Double, attrs: Map[String, Any])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val spans = ArrayBuffer.empty[Span]
  private def span(parent: Int, name: String, start: Double, end: Double,
                   attrs: Map[String, Any] = Map.empty): Int = {
    val id = spans.length + 1
    spans += Span(id, parent, name, start, end, attrs)
    id
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = nowMs()
    val a = argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val out = a("out")
    val cpus = a("cpus").toInt
    Files.createDirectories(Paths.get(out))

    val spark = GraftSession.getOrCreate(s"local[$cpus]", cpus)
    val sessionS = (nowMs() - mainMs) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a)
    val body =
      try if (a("kind") == "stream") run.stream() else run.batch()
      finally {
        Files.write(Paths.get(s"$out/spans.jsonl"),
          spans.map(s => json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "start" -> s.start, "end" -> s.end) ++ s.attrs))
            .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        spark.stop()
      }
    val doc = Map(
      "main_entered_ms" -> mainMs,
      "session_s" -> sessionS,
      "timed_from_ms" -> run.timedFromMs,
      "confs" -> run.confs) ++ body
    Files.write(Paths.get(s"$out/harness.json"),
      json.writeValueAsString(doc).getBytes(StandardCharsets.UTF_8))
  }

  /** One run's workload loop. */
  final class Run(spark: SparkSession, a: Map[String, String]) {
    private val sc = spark.sparkContext
    private val data = a("data")
    private val out = a("out")
    private val cpus = a("cpus").toInt
    private val seconds = a("seconds").toDouble
    private val traced = a("trace") == "1"
    private val seed = a("seed").toLong
    private val recorder = new Recorder
    /** When the first timed pass started: the end of set-up. */
    var timedFromMs = 0.0
    /** The effective session settings that most shape the plans timed. */
    val confs: Map[String, String] = Seq("spark.master",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.session.timeZone",
      "spark.sql.extensions")
      .map(k => k -> spark.conf.getOption(k).orElse(sc.getConf.getOption(k)).getOrElse("unset"))
      .toMap

    private def attach(on: Boolean): Unit =
      if (on) { sc.addSparkListener(recorder); spark.listenerManager.register(recorder) }
      else { sc.removeSparkListener(recorder); spark.listenerManager.unregister(recorder) }

    /** Pass plan after warmup: at least `min_passes` passes, and more until
      * `seconds` have elapsed. A fixed minimum keeps the median over the same
      * number of passes whatever the machine's speed. A trace run orders its
      * passes untraced, traced, traced, untraced (repeating) and runs at
      * least those four, so that warm-up drift does not land on one side of
      * the tracing-overhead comparison.
      */
    private def timedPasses(onePass: (Int, Boolean) => Map[String, Any])
        : Seq[Map[String, Any]] = {
      val t0 = nowMs()
      timedFromMs = t0
      val passes = ArrayBuffer.empty[Map[String, Any]]
      var p = 0
      val minPasses = math.max(a("min_passes").toInt, if (traced) 4 else 1)
      while (p < minPasses || nowMs() - t0 < seconds * 1e3) {
        val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
        if (tracedPass) attach(on = true)
        try passes += onePass(p, tracedPass)
        finally if (tracedPass) { Recorder.drain(sc); attach(on = false) }
        p += 1
      }
      passes.toSeq
    }

    private def pinnedBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    private def codegen(): (Long, Long) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** Process CPU seconds and JVM collector seconds so far. */
    private def jvmTimes(): (Double, Double) =
      (osBean.getProcessCpuTime / 1e9, gcBeans.map(_.getCollectionTime).sum / 1e3)

    /** Per-call counters from the listener events of one call. */
    private def layerCounters(mine: (JobRec, String) => Boolean, build: Seen,
                              action: Seen, root: Int, buildSpan: Int,
                              analysis: Seq[PhaseRec]): Map[String, Any] = {
      val all = Seen(build.jobs ++ action.jobs, build.stages ++ action.stages,
        build.tasks ++ action.tasks, Nil)
      val buildJobs = build.jobs.filter(mine(_, "build"))
      val actionJobs = action.jobs.filter(mine(_, "exec"))
      val unattributed = all.jobs.size - buildJobs.size - actionJobs.size
      val tasksByStage = all.tasks.groupBy(_.stageId)
      val stagesById = all.stages.groupBy(_.id)
      var floorMs = 0.0
      def jobSpans(jobs: Seq[JobRec], parent: Int): Unit = jobs.foreach { j =>
        val ts = j.stageIds.flatMap(s => tasksByStage.getOrElse(s, Nil))
        val covered = Intervals.covered(ts.map(t => (t.launch.toDouble, t.finish.toDouble)),
          j.start.toDouble, j.end.toDouble)
        floorMs += (j.end - j.start) - covered
        val js = span(parent, "exec.job", j.start, j.end,
          Map("job" -> j.id, "tasks" -> ts.size))
        j.stageIds.flatMap(s => stagesById.getOrElse(s, Nil)).foreach { s =>
          span(js, "exec.stage", s.submitted, s.completed,
            Map("stage" -> s.id, "tasks" -> s.tasks))
        }
      }
      jobSpans(buildJobs, buildSpan)
      jobSpans(actionJobs, root)
      def catalyst(ps: Seq[PhaseRec], parent: Int): Unit = ps.foreach { p =>
        span(parent, s"catalyst.${p.name}", p.start, p.end)
      }
      catalyst(build.phases ++ analysis, buildSpan)
      catalyst(action.phases, root)
      def phaseS(n: String) =
        (action.phases ++ analysis).filter(_.name == n).map(p => p.end - p.start).sum / 1e3
      val buildTaskIds = buildJobs.flatMap(_.stageIds).toSet
      val t = all.tasks
      Map(
        "build_jobs" -> buildJobs.size,
        "build_task_s" -> t.filter(x => buildTaskIds(x.stageId)).map(_.runMs).sum / 1e3,
        "jobs" -> (buildJobs.size + actionJobs.size),
        "unattributed_jobs" -> unattributed,
        "stages" -> all.stages.size,
        "tasks" -> t.size,
        "task_s" -> t.map(_.runMs).sum / 1e3,
        "gc_s" -> t.map(_.gcMs).sum / 1e3,
        "job_floor_s" -> floorMs / 1e3,
        "shuffle_read_b" -> t.map(_.shuffleReadB).sum,
        "shuffle_write_b" -> t.map(_.shuffleWriteB).sum,
        "spill_b" -> t.map(_.spillB).sum,
        "input_b" -> t.map(_.inputB).sum,
        "analysis_s" -> phaseS("analysis"),
        "optimization_s" -> phaseS("optimization"),
        "planning_s" -> phaseS("planning"),
        "pinned_b" -> pinnedBytes())
    }

    // ---------------------------------------------------------------- batch

    def batch(): Map[String, Any] = {
      val queries = a("queries").split(",").toSeq
      val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
      def onePass(p: Int, tracedPass: Boolean): Map[String, Any] = {
        SharedState.clear()
        val (c0, ct0) = codegen()
        val pt0 = nowMs()
        val (cpu0, gc0) = jvmTimes()
        val calls = queries.map { q =>
          val callId = s"p$p|$q"
          val t0 = nowMs()
          sc.setJobDescription(s"$callId|build")
          var t1 = t0
          var drained = t0
          var err: Option[String] = None
          var build = Seen(Nil, Nil, Nil, Nil)
          var analysis = Seq.empty[PhaseRec]
          val cg0 = codegen()
          try {
            val df = fns(q)(spark, data)
            t1 = nowMs()
            if (tracedPass) {
              Recorder.drain(sc)
              build = recorder.take()
              // the DataFrame is analyzed eagerly while it is built; its
              // own tracker holds that phase
              analysis = df.queryExecution.tracker.phases.toSeq.map { case (n, ph) =>
                PhaseRec(n, ph.startTimeMs, ph.endTimeMs) }
              drained = nowMs()
            }
            sc.setJobDescription(s"$callId|exec")
            df.write.format("noop").mode("overwrite").save()
          } catch { case e: Throwable => err = Some(s"${e.getClass.getName}: ${e.getMessage}") }
          val t2 = nowMs()
          sc.setJobDescription(null)
          val base = Map[String, Any]("id" -> q, "pass" -> p, "latency_s" -> (t2 - t0) / 1e3,
            "build_s" -> (t1 - t0) / 1e3, "ok" -> err.isEmpty) ++
            err.map(e => Map("error" -> e)).getOrElse(Map.empty)
          if (!tracedPass) base
          else {
            Recorder.drain(sc)
            val action = recorder.take()
            val cg1 = codegen()
            val root = span(0, "query", t0, t2,
              Map("workload" -> a("workload"), "pass" -> p, "query" -> q))
            val bs = span(root, "ops.build", t0, t1)
            span(root, "trace.drain", t1, drained)
            base ++ layerCounters((j, phase) => j.desc == s"$callId|$phase",
              build, action, root, bs, analysis) ++ Map(
              "compiles" -> (cg1._1 - cg0._1), "compile_s" -> (cg1._2 - cg0._2) / 1e9)
          }
        }
        val (c1, ct1) = codegen()
        val (cpu1, gc1) = jvmTimes()
        Map("pass" -> p, "traced" -> tracedPass, "wall_s" -> (nowMs() - pt0) / 1e3,
          "cpu_s" -> (cpu1 - cpu0), "jvm_gc_s" -> (gc1 - gc0),
          "compiles" -> (c1 - c0), "compile_s" -> (ct1 - ct0) / 1e9, "calls" -> calls)
      }

      // The first warm-up pass is the correctness pass: every result is
      // written as parquet for the DuckDB comparison in run.py. One pass
      // leaves the next ones visibly slower than steady state, so further
      // untimed passes follow; their walls are kept to show the curve.
      val tw = nowMs()
      SharedState.clear()
      val verifyErrors = queries.flatMap { q =>
        try { fns(q)(spark, data).write.mode("overwrite").parquet(s"$out/verify/$q"); None }
        catch { case e: Throwable => Some(q -> s"${e.getClass.getName}: ${e.getMessage}") }
      }.toMap
      val verifyS = (nowMs() - tw) / 1e3
      val warmupWalls = (2 to a("warmup_passes").toInt)
        .map(_ => onePass(-1, tracedPass = false)("wall_s"))
      val warmupS = (nowMs() - tw) / 1e3
      val passes = timedPasses(onePass)
      Map("warmup_s" -> warmupS, "warmup_pass_s" -> (verifyS +: warmupWalls),
        "verify_errors" -> verifyErrors, "passes" -> passes,
        "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    }

    // --------------------------------------------------------------- stream

    def stream(): Map[String, Any] = {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val perPass = a("batches").toInt
      val spanMs = a("span_min").toLong * 60000L
      val rows = Tables.events(spark, data)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect().sortBy(r => (r.getTimestamp(1).getTime, r.getLong(0)))
      // the seed shifts the batch boundaries and shuffles rows in a batch
      val rnd = new Random(seed)
      val offset = (rnd.nextDouble() * spanMs).toLong
      var next = 0
      var hi = rows.head.getTimestamp(1).getTime + offset
      def nextSlice(): Array[Row] = {
        val from = next
        while (next < rows.length && rows(next).getTimestamp(1).getTime < hi) next += 1
        hi += spanMs
        rnd.shuffle(rows.slice(from, next).toSeq).toArray
      }

      // one long-running pair of monitors, fed one event-time span at a time
      val ckpt = s"$out/checkpoints"
      val hIn = MemoryStream[SensorReading]
      val wIn = MemoryStream[(Timestamp, String, Double)]
      val qs = Seq(
        HampelStream.run(hIn.toDS()).writeStream.format("memory")
          .queryName("hampel").outputMode("append")
          .option("checkpointLocation", s"$ckpt/hampel").start(),
        EventStream.windowedAggStream(wIn.toDF().toDF("ts", "event_type", "value"))
          .writeStream.format("memory").queryName("windowed_agg").outputMode("complete")
          .option("checkpointLocation", s"$ckpt/windowed").start())
      val fed = ArrayBuffer.empty[Row]
      var batchNo = 0
      def oneBatch(p: Int, tracedPass: Boolean): Map[String, Any] = {
        val slice = nextSlice()
        val b = batchNo
        batchNo += 1
        val t0 = nowMs()
        val err = try {
          hIn.addData(slice.map(r => SensorReading(r.getLong(2).toString, r.getLong(0),
            r.getTimestamp(1), r.getDouble(4))).toSeq)
          wIn.addData(slice.map(r => (r.getTimestamp(1), r.getString(3), r.getDouble(4))).toSeq)
          qs.foreach(_.processAllAvailable())
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val t1 = nowMs()
        fed ++= slice
        val base = Map[String, Any]("id" -> s"b$b", "pass" -> p, "latency_s" -> (t1 - t0) / 1e3,
          "ok" -> err.isEmpty, "rows" -> slice.length) ++
          err.map(e => Map("error" -> e)).getOrElse(Map.empty)
        if (!tracedPass) base
        else {
          Recorder.drain(sc)
          val root = span(0, "stream.batch", t0, t1,
            Map("workload" -> a("workload"), "pass" -> p, "batch" -> b))
          // batches run one at a time: every job since the last drain
          // belongs to this one
          base ++ layerCounters((_, phase) => phase == "exec",
            Seen(Nil, Nil, Nil, Nil), recorder.take(), root, root, Nil)
        }
      }
      val lastProgress = scala.collection.mutable.Map.empty[String, Long]
      /** Progress of the micro-batches since the previous call, per query. */
      def progress(): Seq[Map[String, Any]] = qs.flatMap { q =>
        val seen = lastProgress.getOrElse(q.name, -1L)
        val news = q.recentProgress.toSeq.filter(_.batchId > seen)
        news.lastOption.foreach(pr => lastProgress(q.name) = pr.batchId)
        news.map { pr =>
          val st = pr.stateOperators.toSeq
          Map[String, Any]("query" -> q.name, "batch" -> pr.batchId,
            "rows" -> pr.numInputRows,
            "durations" -> pr.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap,
            "state_rows" -> st.map(_.numRowsTotal).sum,
            "state_b" -> st.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> st.map(_.commitTimeMs).sum,
            "late_rows" -> st.map(_.numRowsDroppedByWatermark).sum)
        }
      }

      val tw = nowMs()
      val warmup = (1 to a("warmup_batches").toInt).map(_ => oneBatch(-1, tracedPass = false))
      val warmupS = (nowMs() - tw) / 1e3
      progress()
      val passes = timedPasses { (p, tracedPass) =>
        val (c0, ct0) = codegen()
        val pt0 = nowMs()
        val (cpu0, gc0) = jvmTimes()
        val batches = (1 to perPass).map(_ => oneBatch(p, tracedPass))
        val wall = (nowMs() - pt0) / 1e3
        val (c1, ct1) = codegen()
        val (cpu1, gc1) = jvmTimes()
        Map("pass" -> p, "traced" -> tracedPass, "wall_s" -> wall,
          "cpu_s" -> (cpu1 - cpu0), "jvm_gc_s" -> (gc1 - gc0),
          "compiles" -> (c1 - c0), "compile_s" -> (ct1 - ct0) / 1e9,
          "calls" -> batches, "progress" -> progress())
      }
      qs.foreach(_.stop())

      // parity with the batch twins over every row fed, outside timing
      val tp = nowMs()
      val fedDf = fed.map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
        r.getDouble(4))).toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
      val hampelWant = TimeSeries.hampelCensus(fedDf).collect().map { r =>
        HampelSnapshot(r.getAs[Long]("user_id").toString, r.getAs[Long]("n"),
          r.getAs[Long]("n_flagged"), r.getAs[Double]("flag_rate"),
          Option(r.getAs[java.lang.Double]("worst_ratio")).map(_.doubleValue()))
      }.toSet
      val hampelGot = spark.table("hampel").as[HampelSnapshot].collect()
        .zipWithIndex.groupBy(_._1.series_key).map(_._2.maxBy(_._2)._1).toSet
      val windowWant = EventStream.windowedAgg(fedDf.select("ts", "event_type", "value"))
        .collect().toSet
      val windowGot = spark.table("windowed_agg").collect().toSet
      val mismatches = Seq("hampel" -> (hampelGot == hampelWant),
        "windowed_agg" -> (windowGot == windowWant)).collect { case (n, false) => n }
      Map("warmup_s" -> warmupS, "warmup_latency_s" -> warmup.map(_("latency_s")),
        "passes" -> passes, "rows_fed" -> fed.length, "mismatches" -> mismatches,
        "parity_s" -> (nowMs() - tp) / 1e3)
    }
  }
}

/** Total length of the part of [lo, hi] covered by a set of intervals. */
object Intervals {
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
