package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** r19 fixed-overhead audit: per bench entry, count Spark jobs, stages,
  * tasks, summed task time and summed shuffle bytes — the data behind
  * "this entry is drowning in per-task scheduling at 32 cores" claims
  * (guide §1/§2.2). Task time far below wall = driver-side or
  * scheduling overhead; tasks >> rows/1000 = partition explosion.
  *
  * Usage: Test/runMain graft.JobProbe <entry> [<entry> ...]
  * (SPARK_GRAFT_CPUS and SPARK_GRAFT_SF_DIR honored like the bench.) */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val spark = Gate.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val perJob = sys.env.contains("GRAFT_PROBE_JOBS")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, (AtomicInteger, AtomicLong)]
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (perJob) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobStartNs.put(j.jobId, (System.nanoTime(), desc))
          jobTasks.put(j.jobId, (new AtomicInteger, new AtomicLong))
          j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (perJob) Option(jobStartNs.get(e.jobId)).foreach { case (t0, desc) =>
          val (tc, tn) = jobTasks.get(e.jobId)
          println(f"[job]   #${e.jobId}%-4d ${(System.nanoTime() - t0) / 1e9}%6.3fs tasks=${tc.get}%-5d taskSec=${tn.get / 1e9}%6.2f  $desc")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          if (perJob) Option(stageToJob.get(t.stageId)).foreach { jid =>
            val e = jobTasks.get(jid)
            if (e != null) { e._1.incrementAndGet(); e._2.addAndGet(m.executorRunTime * 1000000L) }
          }
        }
      }
    }
    val names = args.toSeq
    // one untimed warmup pass so JIT/codegen doesn't pollute counts
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).head()
    }
    spark.sparkContext.addSparkListener(listener)
    println(f"[jobs] ${"entry"}%-28s  wall  jobs stages  tasks taskSec shufRdMB shufWrMB")
    names.foreach { n =>
      jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0)
      shuffleRead.set(0); shuffleWrite.set(0)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).head()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async: wait until the bus delivered every
      // event posted so far (the entry's job-end events included)
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      println(f"[jobs] $n%-28s ${wall}%5.2f ${jobs.get}%5d ${stages.get}%6d " +
        f"${tasks.get}%6d ${taskNanos.get / 1e9}%7.2f " +
        f"${shuffleRead.get / 1e6}%8.2f ${shuffleWrite.get / 1e6}%8.2f")
    }
    spark.stop()
  }
}
