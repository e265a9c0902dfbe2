package graft.perfbench

import org.apache.spark.sql.SparkSession

/** `lakehouse`: the `etl_daily` and `stream_serve` traffic on one
  * session, as one closed loop — each cycle is a daily drop through the
  * pipeline and the view refresh, then a day of event micro-batches with
  * their reads and retention. One run thus covers every table-engine
  * layer while paying the JVM's cold start and the set-up once.
  *
  * Operation kinds: `op` is the daily cycle (pipeline + view refresh),
  * `mv_refresh` the view refresh within it, `ingest` one micro-batch and
  * `serve` the event reads after it (one of each class, summed). */
final class Lakehouse(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  private val etl = new EtlDaily(spark, seed, tracer)
  private val stream = new StreamServe(spark, seed, tracer)

  def setup(dir: String): Unit = {
    etl.setup(s"$dir/etl")
    stream.setup(s"$dir/stream")
  }
  override def teardown(): Unit = stream.teardown()
  def cycle(i: Int, rec: Recorder): Unit = {
    etl.cycle(i, rec)
    stream.cycle(i, rec)
  }
  def finalCheck(rec: Recorder): Unit = {
    etl.finalCheck(rec)
    stream.finalCheck(rec)
  }
  def diskBytes: Long = etl.diskBytes + stream.diskBytes
  /** The first cycle is the JVM's first pass over the cycle's code, so
    * `op_p50_s` is the mean of a cold and a warm cycle. Three cycles would
    * leave the cold one out but make every run a third longer. */
  def minCycles: Int = 2
}
