package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import graft.SparkEntry
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark client: sets graft up, runs one workload in a closed loop
  * for the given number of seconds and writes one JSON record of every op.
  *
  *   graftbench.Main --workload queries|sessions --dir FIXTURE
  *     --seconds N --trace 0|1 --out DIR [--cpus N] [--only a,b]
  *
  * The loop runs whole passes over the workload, as many as fit the given
  * seconds to the nearest pass: it starts another pass only while more
  * than half of one is left. An untraced run measures at least one pass.
  * A traced run measures three: untraced (it warms the JVM), traced and
  * untraced again, so the record carries the tracing overhead, traced
  * against the following untraced pass, next to the per-layer counters.
  */
object Main {
  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = opt("dir")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val cpus = opt.getOrElse("cpus", "4")
    val only = opt.get("only").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    // set-up: from JVM start to the first op being ready (session, warm-up
    // query, table footers)
    val steps = mutable.ArrayBuffer.empty[Double]
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = setup(dir, cpus, steps)
    val setupS = jvmS + steps.sum

    val origin = System.nanoTime()
    val listener = new GroupListener
    val spans = new Spans(origin)
    val dumps = if (workload == "sessions") None else Some(s"$out/dumps")
    val runner = new Runner(spark, listener, spans, dumps, clearEachOp = workload != "sessions")
    val pass = Workloads.pass(workload, spark, dir, runner, only)
    val passWall = mutable.ArrayBuffer.empty[Double]
    val minPasses = if (trace) 3 else 1
    val budgetNs = (seconds * 1e9).toLong
    var lastPassNs = 0L
    while (runner.pass < minPasses || System.nanoTime() - origin + lastPassNs / 2 < budgetNs) {
      runner.traced = trace && runner.pass == 1
      if (runner.traced) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      pass()
      lastPassNs = System.nanoTime() - t0
      passWall += lastPassNs / 1e9
      if (runner.traced) spark.sparkContext.removeSparkListener(listener)
      runner.pass += 1
    }
    val record = Json.obj(
      "workload" -> workload, "trace" -> trace, "cpus" -> cpus.toInt,
      "setup_s" -> setupS, "setup_jvm_s" -> jvmS, "setup_steps_s" -> steps.toSeq,
      "pass_wall_s" -> passWall.toSeq,
      "codegen_mean_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
      "ops" -> runner.ops.toSeq.map(opJson),
      "oracle_sql" -> Json.obj(runner.ops.map(_.name).distinct.toSeq
        .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)): _*),
      "spans" -> spans.all.toSeq.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/record.json"), record.rendered)
    spark.stop()
  }

  /** Builds the session and warms it up; records how long each step took. */
  private def setup(dir: String, cpus: String, steps: mutable.ArrayBuffer[Double]): SparkSession = {
    var t = System.nanoTime()
    def step(): Unit = { val now = System.nanoTime(); steps += (now - t) / 1e9; t = now }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    step()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    step()
    Tables.foreach(graft.util.D.t(spark, dir, _).schema)
    step()
    spark
  }

  private def counters(c: PhaseCounters): Seq[(String, Any)] = Seq(
    "jobs" -> c.jobs, "tasks" -> c.tasks, "task_busy_s" -> c.taskBusyMs / 1e3,
    "shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0, "spill_mb" -> c.spillBytes / 1048576.0)

  private def opJson(r: OpRecord): Json.Obj = Json.obj(
    "id" -> r.id, "pass" -> r.pass, "traced" -> r.traced, "name" -> r.name, "layer" -> r.layer,
    "build_s" -> r.buildS, "plan_s" -> r.planS, "exec_s" -> r.execS, "error" -> r.error,
    "rows" -> r.rows, "digest" -> r.digest, "heap_mb" -> r.heapMb, "codegen_compiles" -> r.codegen,
    "scans" -> r.scans, "exchanges" -> r.exchanges,
    "build" -> Json.obj(counters(r.build): _*), "plan" -> Json.obj(counters(r.plan): _*),
    "exec" -> Json.obj(counters(r.exec): _*))
}

/** Just enough JSON writing for the record: numbers, booleans, strings,
  * sequences and nested objects. */
object Json {
  final case class Obj(rendered: String)

  def obj(kv: (String, Any)*): Obj =
    Obj(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Obj(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
