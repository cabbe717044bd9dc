package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.plans.{MaterializedViews, TableDml}

/** One benchmark client: a single closed-loop thread driving the engine
  * through its public entry points, as laid out in a plan file written by
  * `run.py`:
  *
  *   conf <key> <value>       data, out, tmp, batches, seconds, trace,
  *                            cores, warmup, check_first
  *   pass <op> <op> ...       one pass; an op is `r:<query>` (build the
  *                            query, then write it to the noop sink) or
  *                            `a:<batch>` (TableDml.insertInto of one
  *                            append batch, then awaitMaintenance)
  *   check <query>            written to parquet by the untimed check pass
  *
  * The first `warmup` passes are untimed. With `check_first 1` (workloads
  * that never write) the check pass runs before them and warms up as well;
  * otherwise it runs after the timed phase, over the state the appends
  * left. Timed passes follow until `seconds` have passed, always finishing
  * the pass in flight, so every run measures whole passes. With `trace 1`
  * every timed op is traced: the listeners are registered around it and a
  * barrier job after it flushes the listener bus, so the op's jobs, stages
  * and query executions are drained into its record. Results go to
  * `<out>/result.json`. */
object Main {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  /** Wall clock in epoch microseconds, monotonic within the process. */
  def nowUs(): Long = ms0 * 1000 + (System.nanoTime() - ns0) / 1000

  final case class Op(kind: Char, arg: String) {
    def label: String = if (kind == 'r') arg else s"append#$arg"
  }

  final class Sample(val pass: Int, val op: Op, val timed: Boolean, val traced: Boolean) {
    var t0, t1, t2 = 0L // read: start, build end, end; append: start, insert end, await end
    var error: String = null
    var trace: String = null
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "--oracle-sql") {
      val json = Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*)
      Files.write(Paths.get(args(1)), json.getBytes(UTF_8))
    } else runPlan(args(0))

  private def runPlan(planFile: String): Unit = {
    val lines = Files.readAllLines(Paths.get(planFile), UTF_8).asScala.toSeq
    val conf = lines.collect { case l if l.startsWith("conf ") =>
      val Array(_, k, v) = l.split(" ", 3); k -> v }.toMap
    val passes = lines.collect { case l if l.startsWith("pass ") =>
      l.split(" ").toSeq.tail.map(o => Op(o.head, o.drop(2))) }
    val checks = lines.collect { case l if l.startsWith("check ") => l.drop(6) }
    val dir = conf("data")
    val out = conf("out")
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    val cores = conf("cores")

    val setupMs = mutable.LinkedHashMap("main" -> System.currentTimeMillis())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf("tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    setupMs("session") = System.currentTimeMillis()
    // session state, extension rules and the function registry
    spark.sql("SELECT 1").collect()
    setupMs("extensions") = System.currentTimeMillis()
    val queries = SparkEntry.queries
    setupMs("registry") = System.currentTimeMillis()
    lazy val batches = spark.read.parquet(conf("batches"))
    val recorder = new Recorder

    def run(s: Sample, i: Int): Unit = {
      val tag = s"perfbench:$i"
      try s.op.kind match {
        case 'r' =>
          sc.setJobGroup(s"$tag:build", s.op.arg)
          s.t0 = nowUs()
          val df = queries(s.op.arg)(spark, dir)
          s.t1 = nowUs()
          sc.setJobGroup(s"$tag:write", s.op.arg)
          df.write.format("noop").mode("overwrite").save()
          s.t2 = nowUs()
        case 'a' =>
          sc.setJobGroup(s"$tag:insert", s.op.label)
          s.t0 = nowUs()
          val rows = batches.filter(col("batch") === s.op.arg.toInt).drop("batch")
          TableDml.insertInto(spark, s"$dir/orders.parquet", rows)
          s.t1 = nowUs()
          sc.setJobGroup(s"$tag:await", s.op.label)
          MaterializedViews.awaitMaintenance()
          s.t2 = nowUs()
      } catch {
        case e: Throwable =>
          s.t2 = nowUs()
          s.error = describe(e)
      } finally sc.clearJobGroup()
    }

    def runTraced(s: Sample, i: Int): Unit = {
      sc.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
      try {
        run(s, i)
        recorder.barrier(sc)
      } finally {
        spark.listenerManager.unregister(recorder)
        sc.removeSparkListener(recorder)
      }
      s.trace = Json.opTrace(recorder.drain())
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    var i = 0
    def runPass(p: Int, timed: Boolean): Unit =
      for (op <- passes(p % passes.size)) {
        val s = new Sample(p, op, timed, traced = timed && trace)
        if (s.traced) runTraced(s, i) else run(s, i)
        samples += s
        i += 1
      }

    def checkPass(): Seq[(String, String)] = checks.flatMap { q =>
      try {
        queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/check/$q")
        None
      } catch { case e: Throwable => Some(q -> describe(e)) }
    }
    val checkFirst = conf.get("check_first").contains("1")
    var checkErrors = if (checkFirst) checkPass() else Nil
    val warmup = conf("warmup").toInt
    for (p <- 0 until warmup) runPass(p, timed = false)
    val readyMs = System.currentTimeMillis()
    setupMs("warmup") = readyMs
    val tStart = System.nanoTime()
    var p = warmup
    while ((System.nanoTime() - tStart) / 1e9 < seconds) { runPass(p, timed = true); p += 1 }
    val timedS = (System.nanoTime() - tStart) / 1e9

    if (!checkFirst) {
      MaterializedViews.awaitMaintenance()
      checkErrors = checkPass()
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => checks.contains(k) }
    val peakRssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

    val json = Json.obj(
      "ready_ms" -> readyMs.toString,
      "setup_ms" -> Json.obj(setupMs.toSeq.map { case (k, v) => k -> v.toString }: _*),
      "timed_s" -> timedS.toString,
      "passes" -> (p - warmup).toString,
      "peak_rss_kb" -> peakRssKb.toString,
      "spark_version" -> Json.str(spark.version),
      "master" -> Json.str(sc.master),
      "samples" -> Json.arr(samples.toSeq.map(sampleJson)),
      "check_errors" -> Json.obj(checkErrors.map { case (k, v) => k -> Json.str(v) }: _*),
      "oracle_sql" -> Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
    Files.write(Paths.get(s"$out/result.json"), json.getBytes(UTF_8))
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def sampleJson(s: Sample): String = Json.obj(Seq(
    "pass" -> s.pass.toString,
    "kind" -> Json.str(if (s.op.kind == 'r') "read" else "append"),
    "name" -> Json.str(s.op.label),
    "t0_us" -> s.t0.toString, "t1_us" -> s.t1.toString, "t2_us" -> s.t2.toString,
    "timed" -> s.timed.toString, "traced" -> s.traced.toString,
    "error" -> (if (s.error == null) "null" else Json.str(s.error))) ++
    Option(s.trace).map("trace" -> _): _*)
}

/** The few JSON shapes the client writes, built by hand so the client
  * needs nothing beyond the engine's own classpath. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def nums(xs: Iterable[Long]): String = xs.mkString("[", ",", "]")

  def opTrace(t: (Seq[Recorder.JobRec], Seq[Recorder.StageRec], Seq[Recorder.QeRec])): String = {
    val (jobs, stages, qes) = t
    obj(
      "jobs" -> arr(jobs.map(j => obj("id" -> j.id.toString, "start" -> j.start.toString,
        "end" -> j.end.toString, "group" -> str(j.group), "stages" -> nums(j.stageIds.map(_.toLong))))),
      "stages" -> arr(stages.map(s => obj("id" -> s.id.toString, "submit" -> s.submit.toString,
        "end" -> s.end.toString, "task_ms" -> nums(s.taskMs), "launch" -> nums(s.launch),
        "cpu_ns" -> s.cpuNs.toString, "gc_ms" -> s.gcMs.toString,
        "sh_read_bytes" -> s.shReadBytes.toString, "sh_write_bytes" -> s.shWriteBytes.toString,
        "spill_bytes" -> s.spillBytes.toString))),
      "qes" -> arr(qes.map(q => obj("id" -> q.id.toString, "func" -> str(q.func),
        "reads_tile" -> q.readsTile.toString, "scan_bytes" -> q.scanBytes.toString,
        "phases" -> obj(q.phases.toSeq.map { case (k, (a, b)) => k -> nums(Seq(a, b)) }: _*),
        "rules" -> obj(q.rules.toSeq.map { case (k, (ns, n, eff)) => k -> nums(Seq(ns, n, eff)) }: _*)))))
  }
}
