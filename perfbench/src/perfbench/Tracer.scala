package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** Records what the engine did during a traced run, from Spark's own
  * listener events: one record per job (span, description tag, call site,
  * task metric sums), cached-block bytes and one record per streaming
  * micro-batch. `run.py` turns the records into spans and
  * per-layer metrics; nothing here is attributed to queries.
  */
final class Tracer extends SparkListener {
  private final class Job(val id: Int, val desc: String, val site: String,
      val module: String, val start: Long) {
    var end = -1L
    val counters = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val executionModule = mutable.HashMap[String, String]()
  private val stageJob = mutable.HashMap[Int, Job]()
  private val blockBytes = mutable.HashMap[RDDBlockId, Long]()
  private var storageBytes = 0L
  private var storagePeak = 0L
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val desc = props.map(_.getProperty("spark.job.description")).orNull
    val result = e.stageInfos.maxBy(_.stageId)
    // Jobs that adaptive execution submits from its own threads carry no
    // engine frame; they belong to the SQL execution that spawned them.
    val module = Tracer.engineFile(result.details)
      .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(executionModule.get))
      .getOrElse(Tracer.callerFile(result.details))
    val job = new Job(e.jobId, desc, result.name, module, e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId) if m != null) {
      val c = j.counters
      c("tasks") += 1
      c("run_ms") += m.executorRunTime
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("input_bytes") += m.inputMetrics.bytesRead
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spill_disk_bytes") += m.diskBytesSpilled
      c("spill_mem_bytes") += m.memoryBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        storageBytes += bytes - blockBytes.getOrElse(id, 0L)
        if (bytes > 0) blockBytes(id) = bytes else blockBytes.remove(id)
        storagePeak = math.max(storagePeak, storageBytes)
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionModule(x.executionId.toString) =
        Tracer.engineFile(x.details).getOrElse(Tracer.callerFile(x.details))
    }
    case _ =>
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = Instant.parse(p.timestamp).toEpochMilli
      val triggerMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized {
        batches += Map("batch_id" -> p.batchId, "start_ms" -> start,
          "end_ms" -> (start + triggerMs))
      }
    }
  }

  /** Waits for every queued event, unregisters, and returns the records. */
  def finish(spark: SparkSession): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
    val cachedBlocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    synchronized {
      Map(
        "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id, "desc" -> j.desc,
          "site" -> j.site, "module" -> j.module, "start_ms" -> j.start,
          "end_ms" -> j.end, "counters" -> j.counters.toMap)),
        "storage_peak_bytes" -> storagePeak,
        "storage_blocks_end" -> cachedBlocks,
        "batches" -> batches.toSeq)
    }
  }
}

object Tracer {
  private val EngineFrame = """(?<![\w.])graft\.[\w$.]*\((\w+)\.scala:\d+\)""".r
  private val Frame = """(?m)^\s*(?:at )?([\w$.]+)\((\w+)\.\w+:\d+\)""".r
  private val Library = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** The engine source file of the innermost `graft.` frame in a long call site. */
  def engineFile(callSite: String): Option[String] =
    Option(callSite).flatMap(EngineFrame.findFirstMatchIn(_)).map(_.group(1))

  /** The source file of the first non-library frame in a long call site
    * (`Driver` for the benchmark's own `count()`), else `unknown`.
    */
  def callerFile(callSite: String): String =
    Option(callSite).iterator.flatMap(Frame.findAllMatchIn(_))
      .find(m => !Library.exists(m.group(1).startsWith)).map(_.group(2)).getOrElse("unknown")

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streams)
    t
  }
}
