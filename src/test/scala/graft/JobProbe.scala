package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{
  SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** r19 fixed-overhead audit: per bench entry, count Spark jobs, stages,
  * tasks, summed task time and summed shuffle bytes — the data behind
  * "this entry is drowning in per-task scheduling at 32 cores" claims
  * (guide §1/§2.2). Task time far below wall = driver-side or
  * scheduling overhead; tasks >> rows/1000 = partition explosion.
  *
  * With `GRAFT_PROBE_JOBS` set, each entry is also broken down by SQL
  * EXECUTION: its jobs group by their `spark.sql.execution.id` job
  * property, joined to the execution's start event for its root
  * execution id and call site (the first graft frame of the
  * execution's `details`, else its description). One `[exec]` line per
  * execution, in start order — which executions repeat work or run one
  * after another is then readable off the probe, no outside listener
  * needed. Jobs outside any execution group under id `-`.
  *
  * Usage: Test/runMain graft.JobProbe <entry> [<entry> ...]
  * (SPARK_GRAFT_CPUS and SPARK_GRAFT_SF_DIR honored like the bench.) */
object JobProbe {

  /** One execution's tally: (root id, call site, start/end ns, jobs,
    * tasks, task nanos). */
  private final class Exec(val root: String, val site: String, val startNs: Long) {
    @volatile var endNs: Long = -1L
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
  }

  /** The first graft frame of an execution's call-site stack, else its
    * short description. */
  private def siteOf(e: SparkListenerSQLExecutionStart): String =
    Option(e.details).toSeq.flatMap(_.linesIterator)
      .map(_.trim).find(l => l.startsWith("graft.") && !l.startsWith("graft.JobProbe"))
      .getOrElse(Option(e.description).getOrElse("?"))

  def main(args: Array[String]): Unit = {
    val spark = Gate.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val perExec = sys.env.contains("GRAFT_PROBE_JOBS")
    val execs = new ConcurrentHashMap[String, Exec]
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stageToExec = new ConcurrentHashMap[Int, String]
    def execOf(id: String): Exec =
      execs.computeIfAbsent(id, k => { order.add(k); new Exec("-", "(outside SQL)", System.nanoTime()) })
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if perExec =>
          val id = s.executionId.toString
          order.add(id)
          execs.put(id, new Exec(s.rootExecutionId.fold("?")(_.toString),
            siteOf(s), System.nanoTime()))
        case s: SparkListenerSQLExecutionEnd if perExec =>
          Option(execs.get(s.executionId.toString)).foreach(_.endNs = System.nanoTime())
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (perExec) {
          val id = Option(j.properties)
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .getOrElse("-")
          execOf(id).jobs.incrementAndGet()
          j.stageIds.foreach(sid => stageToExec.put(sid, id))
        }
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
          if (perExec) Option(stageToExec.get(t.stageId)).foreach { id =>
            val x = execOf(id)
            x.tasks.incrementAndGet()
            x.taskNanos.addAndGet(m.executorRunTime * 1000000L)
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
      execs.clear(); order.clear(); stageToExec.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).head()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async: wait until the bus delivered every
      // event posted so far (the entry's job-end events included)
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      if (perExec) {
        println(f"[exec]  ${"id"}%6s ${"root"}%6s ${"start"}%7s ${"wall"}%6s jobs tasks taskSec  call site")
        order.asScala.toSeq.distinct.foreach { id =>
          val x = execs.get(id)
          val dur = if (x.endNs < 0) Double.NaN else (x.endNs - x.startNs) / 1e9
          println(f"[exec]  $id%6s ${x.root}%6s ${(x.startNs - t0) / 1e9}%7.3f $dur%6.3f " +
            f"${x.jobs.get}%4d ${x.tasks.get}%5d ${x.taskNanos.get / 1e9}%7.2f  ${x.site}")
        }
      }
      println(f"[jobs] $n%-28s ${wall}%5.2f ${jobs.get}%5d ${stages.get}%6d " +
        f"${tasks.get}%6d ${taskNanos.get / 1e9}%7.2f " +
        f"${shuffleRead.get / 1e6}%8.2f ${shuffleWrite.get / 1e6}%8.2f")
    }
    spark.stop()
  }
}
