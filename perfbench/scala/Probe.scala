package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in probe: listeners the benchmark registers through Spark's
  * public APIs. Nothing under `src/` is instrumented.
  *
  *  - A StreamingQueryListener records every progress report (always on:
  *    ingest lag is an end-to-end metric).
  *  - With tracing on, a SparkListener folds task metrics into one record
  *    per job, keyed by the job's local properties: the job group the
  *    benchmark sets on its own calling threads, the FAIR pool, the
  *    streaming query id, plus its short call site. Jobs started on threads
  *    the program spawns itself (batch workers, HTTP handlers) carry the
  *    program's pool or none; the summarizer attributes those by pool, by
  *    call site or by the time window of the op that caused them.
  *
  * The time spent inside these callbacks is summed as the probe's own cost.
  */
final class Probe(spark: SparkSession, log: Log, traced: Boolean) {
  private val selfNs = new AtomicLong(0)
  private def timedSelf(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t)
  }

  private final class Job(val id: Int, val start: Long, val props: Map[String, String],
      val site: String) {
    var end = 0L; var ok = true; var stages = 0; var tasks = 0
    var cpuNs = 0L; var runMs = 0L; var shufW = 0L; var spill = 0L; var outBytes = 0L
    val schedDelays = new ArrayBuffer[Long]()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedSelf {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
      // the result stage's name is the job's short call site ("parquet at X.scala:N")
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, e.time, props, site))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedSelf {
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => j.synchronized { j.stages += 1 })
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedSelf {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.cpuNs += m.executorCpuTime; j.runMs += m.executorRunTime
            j.shufW += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.outBytes += m.outputMetrics.bytesWritten
            // the Spark UI's scheduler-delay formula (StagePage)
            val info = e.taskInfo
            val total = info.finishTime - info.launchTime
            val gettingResult =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
            j.schedDelays += math.max(0L, total - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedSelf {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      log.emit("stream_end", "id" -> e.id.toString, "at" -> log.now(),
        "err" -> e.exception.getOrElse(""))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timedSelf {
        val p = e.progress
        log.emit("progress", "name" -> Option(p.name).getOrElse(""),
          "id" -> p.id.toString, "at" -> log.now(), "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }

  spark.streams.addListener(streamListener)
  if (traced) spark.sparkContext.addSparkListener(sparkListener)

  /** Unregister, then emit one record per job. */
  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkListener)
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        j.synchronized {
          log.emit("job", "id" -> j.id, "start" -> j.start, "end" -> j.end,
            "ok" -> j.ok,
            "group" -> j.props.getOrElse("spark.jobGroup.id", ""),
            "pool" -> j.props.getOrElse("spark.scheduler.pool", ""),
            "site" -> j.site,
            "stream" -> j.props.getOrElse("sql.streaming.queryId", ""),
            "stages" -> j.stages, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
            "run_ms" -> j.runMs, "shuf_w" -> j.shufW, "spill" -> j.spill,
            "out_bytes" -> j.outBytes, "sched_ms" -> j.schedDelays.toSeq)
        }
      }
    }
    log.value("probe_self_s", selfNs.get() / 1e9)
  }
}
