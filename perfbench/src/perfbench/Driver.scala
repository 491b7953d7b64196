package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.api.ApiServer

/** JVM side of the benchmark. Drives the engine only through its public
  * surface (`SparkEntry.queries`, `ApiServer.start`) and times the calls
  * from outside; `run.py` launches one fresh JVM per run and reads the
  * result file this writes.
  *
  * {{{
  * Driver batch <workload> <sfDir> <cores> <trace 0|1> <out.json> <q1,q2,...>
  * Driver api   <workload> <sfDir> <cores> <trace 0|1> <out.json>
  * }}}
  *
  * Protocol on stdout (one line each, everything else goes to stderr):
  * `READY` once the session is built and warmed up; for `api` then
  * `PORT <n>`, after which the JVM serves until its stdin is closed.
  * The result file is written last, so a missing file means a failed run.
  */
object Driver {

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, sfDir, cores, traceFlag, out) = args.take(6)
    val trace = traceFlag == "1"
    val spark = GraftSession.local(cores.toInt, s"perfbench-$workload")
    warmUp(spark, sfDir)
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    println("READY")
    System.out.flush()

    val result = mutable.LinkedHashMap[String, Any]()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    mode match {
      case "batch" =>
        result("queries") =
          args(6).split(",").toSeq.map(q => runQuery(spark, workload, sfDir, q, trace))
      case "api" =>
        val server = ApiServer.start(spark, sfDir)
        println(s"PORT ${server.getAddress.getPort}")
        System.out.flush()
        // Serve until run.py closes stdin.
        new BufferedReader(new InputStreamReader(System.in, UTF_8)).readLine()
        server.stop(0)
    }
    result("pass_s") = (System.nanoTime() - n0) / 1e9
    result("pass_start_ms") = t0
    result("pass_end_ms") = System.currentTimeMillis()
    result("peak_rss_mb") = vmHwmMb()
    result("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    result("java_version") = System.getProperty("java.version")
    result("master") = spark.sparkContext.master
    tracer.foreach(t => result("trace") = t.finish(spark))
    Files.write(Paths.get(out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(result))
    spark.stop()
  }

  /** The same warm-up Bench runs before timing: session, codegen and
    * parquet-footer initialisation, so the pass is charged only for the
    * queries' own first runs.
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    val a = spark.range(1000L).selectExpr("id", "id % 13 AS k", "CAST(id AS STRING) AS s")
    val b = spark.range(100L).selectExpr("id AS k2")
    a.join(b, a("k") === b("k2"))
      .selectExpr("k", "s",
        "row_number() OVER (PARTITION BY k ORDER BY id) AS rn",
        "aggregate(sequence(1, 5), 0L, (x, y) -> x + y) AS h",
        "md5(s) AS m")
      .groupBy("k").count().collect()
  }

  /** One cold run of one query: build the DataFrame, then `count()` it.
    * A throw is recorded, not rethrown, so the pass always completes.
    */
  private def runQuery(spark: SparkSession, workload: String, sfDir: String,
      q: String, trace: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val start = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var n1 = n0
    var rows = -1L
    var error: String = null
    try {
      if (trace) sc.setJobDescription(s"$workload/$q/build")
      val df = SparkEntry.queries(q)(spark, sfDir)
      n1 = System.nanoTime()
      if (trace) sc.setJobDescription(s"$workload/$q/action")
      rows = df.count()
    } catch {
      case e: Exception => error = s"${e.getClass.getName}: ${e.getMessage}".take(300)
    } finally {
      if (trace) sc.setJobDescription(null)
    }
    val n2 = System.nanoTime()
    if (n1 == n0) n1 = n2
    Map("name" -> q, "start_ms" -> start, "end_ms" -> System.currentTimeMillis(),
      "wall_s" -> (n2 - n0) / 1e9, "build_s" -> (n1 - n0) / 1e9,
      "action_s" -> (n2 - n1) / 1e9, "rows" -> rows, "error" -> error)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}
