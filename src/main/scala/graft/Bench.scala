package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-query wall-clock benchmark. One untimed warmup pass first (pays JIT +
  * whole-stage-codegen compilation + filesystem cache; residual JIT
  * re-profiling lands in timed pass 1 and is discarded by the per-query MIN
  * over the timed passes), then up to `runs` timed passes in name order
  * keeping the per-query MINIMUM. On a shared box single measurements swing
  * 2-3× from GC/scheduler jitter; the min over steady-state passes is the
  * reproducible signal and is what BASELINE.md records.
  *
  * Round-11 hardening (BENCH_r11.json was rc=124 with no metrics, and a
  * separate failed run clobbered BENCH.json with 445 swallowed-exception
  * timings of ~8 ms each):
  *
  *   - **Wall-clock budget**: SPARK_GRAFT_BENCH_BUDGET_SEC (default 2700)
  *     caps the whole protocol. After the warmup and after each timed pass
  *     the harness projects the next pass at the cost of the last one and
  *     STOPS EARLY (≥1 timed pass always completes) rather than letting an
  *     external timeout kill the run metric-less. The emitted JSON records
  *     how many passes actually ran.
  *   - **Error accounting**: a query that throws is counted, its timing is
  *     EXCLUDED from the total, and if any errors occurred the artifact is
  *     diverted to BENCH_failed.json — a run where every query dies on a bad
  *     SF dir must never overwrite the canonical measurement.
  *   - **Atomic artifacts**: files are written to `<name>.tmp` and renamed
  *     on completion, so a killed process can't leave a torn artifact.
  *
  * Artifacts (the per-round driver keeps only the LAST ~2000 chars of
  * stdout, which truncates a 445-query JSON line mid-object — observed as
  * `parsed: null` in BENCH_r06/r07.json):
  *   - BENCH.json          — full per-query min map (the historical shape).
  *   - BENCH_spread.json   — per-query {min, median, stdev, runs[]} so
  *                           run-to-run noise is measurable per query.
  *   - stdout, LAST line   — a COMPACT (<1.5 KB) JSON summary that survives
  *                           the tail capture intact: totals + slowest-10 +
  *                           pointers to the two file artifacts. The full
  *                           line is printed BEFORE it for full-capture
  *                           consumers.
  *
  * Override passes with SPARK_GRAFT_BENCH_WARMUP / SPARK_GRAFT_BENCH_RUNS;
  * disable the budget with SPARK_GRAFT_BENCH_BUDGET_SEC=0.
  *
  * Execution counters: one listener counts the jobs, stages, tasks and task
  * seconds of every timed call, attributed by a per-call job-local property,
  * and BENCH_spread.json lists them per pass in pass order. Unlike wall
  * time they repeat run to run, so a rise is a plan regression even when
  * drift hides it (`tools/diff_counters.py` compares two spread files).
  */
object Bench {
  /** Job-local property naming the timed call ("<query>#<pass>"). */
  private val TagKey = "graft.bench.call"

  /** Jobs, stages, tasks and task nanos per call tag. Updated on the
    * listener-bus thread only; read after `spark.stop()`, which drains and
    * joins that thread. */
  private final class Counters extends SparkListener {
    val counts = mutable.Map.empty[String, Array[Long]]
    private val stageTag = mutable.Map.empty[Int, String]
    private def tagOf(p: java.util.Properties): String =
      if (p == null) null else p.getProperty(TagKey)
    private def add(tag: String, i: Int, n: Long): Unit =
      if (tag != null) counts.getOrElseUpdate(tag, new Array[Long](4))(i) += n
    override def onJobStart(j: SparkListenerJobStart): Unit =
      add(tagOf(j.properties), 0, 1)
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      val tag = tagOf(s.properties)
      if (tag != null) stageTag(s.stageInfo.stageId) = tag
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      add(stageTag.remove(s.stageInfo.stageId).orNull, 1, 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val tag = stageTag.get(t.stageId).orNull
      add(tag, 2, 1)
      if (t.taskInfo != null) add(tag, 3, t.taskInfo.duration * 1000000L)
    }
  }

  def main(args: Array[String]): Unit = {
    val t0wall = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2700").toDouble
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.getOrCreate()
    // ERROR, not WARN: the r11 driver tail was 2000 chars of WindowExec
    // WARN spam with the metric line scrolled out — benign warnings must
    // never displace the one line the driver parses.
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def elapsed(): Double = (System.nanoTime() - t0wall) / 1e9
    def fits(nextPassSec: Double): Boolean =
      budgetSec <= 0 || elapsed() + nextPassSec <= budgetSec
    val errors = mutable.Map.empty[String, Int]
    val errorMessages = mutable.Map.empty[String, String]
    // only TIMED-pass failures divert the artifact: a warmup hiccup with
    // clean timed passes is noise, but timed failures mean the timings are
    // not a measurement of the full surface
    // Each pass recomputes EVERY shared build (PQ/PCA trainings, LSH pair
    // tables, CC labels, postings, rec pipeline) from the parquet inputs:
    // the registry is dropped up front, so within a pass the first consumer
    // pays the build in its own timed slot and later consumers reuse it
    // (cross-query CSE), but nothing is ever served from a previous pass —
    // per-pass totals stay an honest compute-from-parquet measurement.
    // `pass` is the timed pass index, None for a warmup (counted nowhere)
    def onePass(pass: Option[Int]): Map[String, Double] = {
      graft.ops.SharedState.clear()
      ordered.map { case (name, fn) =>
        spark.sparkContext.setLocalProperty(TagKey, pass.map(p => s"$name#$p").orNull)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            if (pass.isDefined) {
              errors(name) = errors.getOrElse(name, 0) + 1
              errorMessages.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}")
            }
            false
          }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
    }
    var lastPassSec = 0.0
    var warmupsDone = 0
    (1 to warmups).foreach { i =>
      // always run warmup 1 (cold numbers are not the protocol); further
      // warmups yield to the budget
      if (i == 1 || fits(lastPassSec)) {
        val t = System.nanoTime()
        onePass(None)
        lastPassSec = (System.nanoTime() - t) / 1e9
        warmupsDone += 1
      }
    }
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var i = 0
    while (i < runs && (passes.isEmpty || fits(lastPassSec))) {
      val t = System.nanoTime()
      passes += onePass(Some(passes.length))
      lastPassSec = (System.nanoTime() - t) / 1e9
      i += 1
    }
    val wallAtStop = elapsed()
    // Stop before writing or printing: the stop drains the listener bus, so
    // the counters are complete, and no Spark shutdown log line can land
    // after (and displace) the JSON lines at the end of stdout. A failing
    // stop must not cost the run its results: report it on stderr and
    // still write and print everything.
    try spark.stop() catch { case NonFatal(e) =>
      System.err.println(s"[bench] spark.stop() failed: $e") }
    def fmt(d: Double): String = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val spread = ordered.map { case (name, _) =>
      val xs = passes.map(_(name)).filter(_ >= 0).sorted.toIndexedSeq
      if (xs.isEmpty) name -> (-1.0, -1.0, 0.0, IndexedSeq(-1.0))
      else {
        val n = xs.length
        val med = if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2
        val mean = xs.sum / n
        val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / n)
        name -> (xs.head, med, sd, xs)
      }
    }
    val results = spread.map { case (name, (mn, _, _, _)) => name -> mn }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val nErr = errors.values.sum
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errMsgJson = errorMessages.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + Verify.jsonString(v) }.mkString("{", ",", "}")
    val meta = s""""sf":"$sfDir","warmups":$warmupsDone,"runs":${passes.length},"errors":$nErr"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,$meta,"error_queries":$errJson,"error_messages":$errMsgJson}"""
    def writeFile(path: String, body: String): Unit = {
      val tmp = java.nio.file.Paths.get(path + ".tmp")
      java.nio.file.Files.write(tmp,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // A filtered or error-bearing run must not clobber the canonical
    // full-surface artifact.
    val defaultOut =
      if (nErr > 0) "BENCH_failed.json"
      else if (only.isDefined) "BENCH_partial.json"
      else "BENCH.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    writeFile(out, fullLine)
    val spreadJson = spread.map { case (k, (mn, med, sd, xs)) =>
      val perPass = passes.indices.map(p =>
        counters.counts.getOrElse(s"$k#$p", new Array[Long](4)))
      def field(f: String, i: Int, show: Long => String) =
        s",\"$f\":" + perPass.map(c => show(c(i))).mkString("[", ",", "]")
      s"\"" + k + "\":{\"min\":" + fmt(mn) + ",\"median\":" + fmt(med) +
        ",\"stdev\":" + fmt(sd) + ",\"runs\":[" + xs.map(fmt).mkString(",") + "]" +
        field("jobs", 0, _.toString) + field("stages", 1, _.toString) +
        field("tasks", 2, _.toString) + field("task_s", 3, n => fmt(n / 1e9)) + "}"
    }.mkString("{", ",", "}")
    writeFile(out.stripSuffix(".json") + "_spread.json",
      s"""{"metric":"total","value":$total,"unit":"sec",$meta,"n_queries":${results.size},"queries":$spreadJson}""")
    val top = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(fullLine)
    // compact final line — MUST stay well under the driver's 2000-char tail
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$meta,"n_queries":${results.size},"wall_sec":${fmt(wallAtStop)},"queries_file":"$out","spread_file":"${out.stripSuffix(".json")}_spread.json","slowest10":$top}""")
  }
}
