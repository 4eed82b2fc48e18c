package graftbench

import java.security.MessageDigest
import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import scala.collection.mutable

/** One measured op: a query or one output-producing notebook cell. */
final class OpRecord(val id: Int, val pass: Int, val traced: Boolean,
                     val name: String, val layer: String) {
  var buildS, planS, execS = 0.0
  var error = ""
  var rows = 0
  var digest = ""
  var heapMb = 0.0
  var codegen = 0L
  var build, plan, exec = new PhaseCounters
  var scans, exchanges = 0
  def ok: Boolean = error.isEmpty
}

/** Thrown when an op fails, so a notebook flow stops at the failed cell. */
final class OpFailed(msg: String) extends RuntimeException(msg)

/** Runs ops one at a time (one client, closed loop) and records them.
  *
  * An op is timed from the build call to the collected result, in three
  * phases: build (the construction call, with any eager collects or
  * checkpoints it makes), plan (forcing the executed plan) and exec (the
  * collect). Outside the timed window the runner checks the output, keeps
  * its digest, dumps the first result of each op for the oracle, and runs the
  * same clearCache + GC + cleaner drain between ops as `graft.Bench`.
  *
  * When `traced` is set it also sets a job group per phase, reads the
  * listener's counters after the bus drains, reads the final adaptive
  * plan's shape and records spans. Untraced ops do none of that.
  */
final class Runner(spark: SparkSession, listener: GroupListener, spans: Spans,
                   dumpDir: Option[String], clearEachOp: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  var traced = false
  var pass = 0
  private val digests = mutable.HashMap.empty[String, String]
  private val compiles = CodegenMetrics.METRIC_COMPILATION_TIME

  /** An op whose output is a DataFrame: build, plan, collect. */
  def frame(name: String, layer: String)(build: => DataFrame): Array[Row] =
    run(name, layer, () => Left(build))

  /** An op whose public entry point returns local values (recommender,
    * auto-explore): its whole cost is the build call. */
  def local(name: String, layer: String)(build: => Seq[Row]): Array[Row] =
    run(name, layer, () => Right(build))

  /** Marks the last op failed when a contract on its output does not hold. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      val r = ops.last
      if (r.ok) r.error = s"check failed: $what"
      throw new OpFailed(r.error)
    }

  private def run(name: String, layer: String,
                  body: () => Either[DataFrame, Seq[Row]]): Array[Row] = {
    val r = new OpRecord(ops.size + 1, pass, traced, name, layer)
    ops += r
    val sc = spark.sparkContext
    def group(phase: String): Unit = if (traced) sc.setJobGroup(s"${r.id}/$phase", name)
    val cg0 = compiles.getCount
    val t0 = System.nanoTime()
    var t1, t2, t3 = 0L
    var rows: Array[Row] = null
    var df: DataFrame = null
    try {
      group("build")
      val out = body()
      t1 = System.nanoTime()
      out match {
        case Left(d) =>
          df = d
          group("plan")
          d.queryExecution.executedPlan
          t2 = System.nanoTime()
          group("exec")
          rows = d.collect()
          t3 = System.nanoTime()
        case Right(rs) =>
          rows = rs.toArray
          t2 = t1; t3 = t1
      }
    } catch {
      case e: Throwable =>
        val now = System.nanoTime()
        if (t1 == 0) t1 = now
        if (t2 == 0) t2 = now
        t3 = now
        r.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally if (traced) sc.clearJobGroup()
    r.buildS = (t1 - t0) / 1e9
    r.planS = (t2 - t1) / 1e9
    r.execS = (t3 - t2) / 1e9
    r.codegen = compiles.getCount - cg0
    if (traced) {
      val opSpan = spans.add(0, r.id, name, t0, t3)
      spans.add(opSpan, r.id, "build", t0, t1)
      spans.add(opSpan, r.id, "plan", t1, t2)
      spans.add(opSpan, r.id, "exec", t2, t3)
      BenchBus.drain(sc)
      r.build = listener.take(s"${r.id}/build")
      r.plan = listener.take(s"${r.id}/plan")
      r.exec = listener.take(s"${r.id}/exec")
      if (df != null && r.ok) {
        val (s, x) = Runner.shape(df.queryExecution.executedPlan)
        r.scans = s; r.exchanges = x
      }
    }
    if (rows != null) {
      r.rows = rows.length
      val d = Runner.digest(rows)
      r.digest = d
      digests.get(name) match {
        case Some(prev) if prev != d => r.error = "output differs from this op's earlier result in the run"
        case Some(_) =>
        case None =>
          digests(name) = d
          if (df != null) dumpDir.foreach { dir =>
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          }
      }
    }
    r.heapMb = hygiene(clearEachOp)
    if (!r.ok) throw new OpFailed(r.error)
    rows
  }

  /** `graft.Bench`'s between-op hygiene, outside every timed window:
    * drop library-internal persists, collect garbage, and give the
    * ContextCleaner time to drain. Returns the used heap after the GC. */
  def hygiene(clearCache: Boolean): Double = {
    if (clearCache) spark.catalog.clearCache()
    System.gc()
    Thread.sleep(150)
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

object Runner {
  /** Source scans and executed exchanges of a final adaptive plan,
    * subqueries included; a reused exchange executes nothing. */
  def shape(plan: SparkPlan): (Int, Int) = {
    var scans, exchanges = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec =>
      case other =>
        other match {
          case _: FileSourceScanExec | _: BatchScanExec => scans += 1
          case _: Exchange => exchanges += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (scans, exchanges)
  }

  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
