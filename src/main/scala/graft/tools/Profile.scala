package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Where does a named query's time go?
  *
  * `runMain graft.tools.Profile <sfDir> <outDir> [key=value ...] <query> [query ...]`
  *
  * Each `key=value` argument is set on the session before the first
  * query. Each query runs twice the way Bench times it (construct, then
  * a noop-sink execute); each round prints one `PROFILE` line with the
  * total and construct seconds, the Spark jobs, stages and tasks it ran,
  * and the summed job wall and task time, so per-job fixed cost and real
  * task work can be told apart. `<outDir>/<query>.txt` gets the formatted
  * physical plan and one line per stage of round 2. */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val (confs, names) = args.drop(2).toSeq.partition(_.contains("="))
    val spark = GraftSession.get()
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    Files.createDirectories(Paths.get(outDir))
    val Seq(jobs, stages, tasks, jobWallMs, taskMs) = Seq.fill(5)(new AtomicLong)
    val starts = new ConcurrentHashMap[Int, Long]()
    val stageLog = new ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); starts.put(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach(t0 => jobWallMs.addAndGet(e.time - t0))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null)
          stageLog.add(f"stage ${si.stageId}%4d ${si.numTasks}%4dt " +
            f"exec ${m.executorRunTime / 1e3}%7.2fs " +
            f"cpu ${m.executorCpuTime / 1e9}%7.2fs " +
            f"deser ${m.executorDeserializeTime / 1e3}%6.2fs " +
            f"gc ${m.jvmGCTime / 1e3}%5.2fs " +
            f"fetch ${m.shuffleReadMetrics.fetchWaitTime / 1e3}%5.2fs " +
            f"shW ${m.shuffleWriteMetrics.bytesWritten / 1024}%8dKB " +
            f"shR ${m.shuffleReadMetrics.totalBytesRead / 1024}%8dKB  ${si.name.take(80)}")
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      }
    })
    for (n <- names; r <- 1 to 2) {
      ListenerBus.drain(spark.sparkContext)
      Seq(jobs, stages, tasks, jobWallMs, taskMs).foreach(_.set(0))
      stageLog.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      ListenerBus.drain(spark.sparkContext)
      println(f"PROFILE $n r$r: total ${(t2 - t0) / 1e9}%.2f s (constr ${(t1 - t0) / 1e9}%.2f) " +
        f"jobs ${jobs.get} stages ${stages.get} tasks ${tasks.get} " +
        f"jobWall ${jobWallMs.get / 1e3}%.2f s taskTime ${taskMs.get / 1e3}%.2f s")
      if (r == 2) {
        val plan = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"$n.txt"),
          plan + "\n" + stageLog.toArray.mkString("\n") + "\n")
      }
    }
    spark.stop()
  }
}
